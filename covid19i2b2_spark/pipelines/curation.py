"""End-to-end training-data curation pipeline (SURVEY §2.11 north star).

The composition users actually run — one lazy DataFrame chain over the
raw corpus, proving the LLM-pipeline operators compose rather than run in
isolation:

    [strip_html]       optional: raw crawl HTML -> text (map-only)
    [blocklist]        optional: broadcast anti-join on source/domain
    [gopher rules]     optional: map-only rule gate
    [classifier]       optional: hashed linear model gate (map-only)
      -> line_dedup    strip corpus-frequent boilerplate lines
    [span removal]     optional: excise cross-doc duplicated k-token
                       runs (exact-substring dedup, token-bounded)
    [exact surgery]    optional: character-exact any-length duplicated
                       runs via the cluster-scoped suffix-array hybrid
                       (X91; cost ∝ candidate bytes, not corpus bytes)
      -> exact_dedup   collapse byte-identical documents (content hash)
      -> MinHash+LSH   near-dup pair graph (Arrow signature kernel)
      -> components    transitive closure (large/small-star, O(log n)
                       rounds; raises at the round cap), min-id
                       survivor per group
      -> contamination drop docs overlapping the eval/benchmark set
    [perplexity gate]  optional: keep the best frac of survivors by
                       Kneser–Ney trigram log-prob (X93, CCNet-style;
                       LM from kn_lm_corpus or self-trained)
    [top fraction]     optional: keep the best frac of each domain by
                       quality score (percentile gate, exact mode)
      -> sample        hash_sample, or temperature mixture per domain
    [token budget]     optional: cap each domain at N tokens,
                       best-quality-first (window cumsum)
      -> pack_sequences shard + chunk assignment for the trainer

Scale shape: every stage is the already-audited operator — the chain adds
NO new shuffles beyond each stage's own (line_dedup 2, exact_dedup 1,
minhash bucketed joins, contamination 1 broadcast join + 1 groupBy,
sample 0 (map-only), packing 1 bounded window).  Stage boundaries are
plain DataFrames, so Catalyst fuses adjacent narrow stages (filters and
projections between shuffles collapse into one codegen span) and AQE
re-plans each exchange at runtime.  Nothing here collects the corpus;
the only driver-side scalars are line_dedup's documented threshold count
and the component-loop convergence checks (edge-bounded).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from covid19i2b2_spark.operators.dedup import (
    exact_dedup,
    line_dedup,
    minhash_dedup_pairs,
)
from covid19i2b2_spark.operators.dedup_clusters import dedup_decision
from covid19i2b2_spark.operators.contamination import contamination_report
from covid19i2b2_spark.operators.merge import scd2_upsert
from covid19i2b2_spark.operators.sampling import hash_sample, pack_sequences
from covid19i2b2_spark.operators.text import fingerprint, token_count


@dataclass(frozen=True)
class CurationConfig:
    # raw crawl HTML in text_col: strip tags/scripts/entities before any
    # other stage (map-only; operators/text.py strip_html)
    html_input: bool = False
    # carry X89 license/attribution provenance (round 15, VERDICT r14
    # #6): extract license evidence from the RAW html BEFORE strip_html
    # and before any dedup/surgery stage — rel="license" tags and CC
    # badge hrefs are exactly the templated fragments that boilerplate
    # line-dedup and duplicated-span excision remove, so post-surgery
    # extraction would silently lose the provenance the corpus is
    # legally required to keep.  Output gains license_url /
    # license_source / license_id (NULL for licenseless pages).
    # Requires html_input=True and a `url` column on the corpus.
    carry_licenses: bool = False
    boilerplate_max_doc_frac: float = 0.1
    # floor for "appears in >= this many docs" — keeps a line shared by a
    # handful of exact-dup docs from reading as corpus boilerplate on
    # small corpora (exact_dedup downstream owns whole-doc dups)
    boilerplate_min_docs: int = 2
    # Gopher quality gate (0 disables): docs failing the rule report's
    # `passes` flag drop before the dedup stages — cheapest filter first.
    # quality_rules: keyword overrides for gopher_filter's thresholds
    # (e.g. {"min_mean_word_len": 2.0}) for corpora whose prose profile
    # differs from web text
    quality_min_words: int = 0
    quality_rules: tuple[tuple[str, float], ...] = ()
    # model-based quality gate (empty disables): fasttext-style hashed
    # linear classifier (operators/quality.py linear_text_classifier);
    # weights come from an upstream trainer.  Runs after the rule gate —
    # both are map-only, cheapest-first ordering unaffected.
    classifier_weights: tuple[float, ...] = ()
    classifier_bias: float = 0.0
    classifier_threshold: float = 0.5
    # CCNet-style perplexity gate (1.0 disables; round 15, X93): after
    # dedup + decontamination, keep only the top fraction of surviving
    # docs by interpolated Kneser–Ney trigram log-prob (exp(-score) is
    # the perplexity, so this is "drop the worst-perplexity tail").
    # The LM trains on curate()'s kn_lm_corpus when given (the CCNet
    # shape — a trusted clean corpus like an encyclopedia dump), else
    # on the surviving docs themselves.  Runs POST-dedup by design:
    # scoring survivors is cheaper, and a self-trained LM on the
    # pre-dedup corpus would learn the boilerplate it is meant to cut.
    kn_keep_fraction: float = 1.0
    kn_top_n_vocab: int = 1000
    kn_discount: float = 0.75
    # per-group thresholds for the perplexity gate (None = one global
    # threshold): CCNet's filter is per-LANGUAGE — a global percentile
    # over a mixed corpus drops whole low-resource slices whose
    # perplexity under the (majority-language) LM runs high across the
    # board.  Names a column on the INPUT corpus (language, source);
    # one tiny per-group percentile aggregate instead of the global one.
    kn_group_col: str | None = None
    # duplicated-span excision (0 disables): after line_dedup, cut every
    # cross-document duplicated run of >= dup_span_k tokens out of the
    # surviving text (operators/passages.py remove_duplicate_spans) —
    # the exact-substring treatment for templated fragments line-level
    # dedup can't see (runs that don't align with line boundaries).
    # Untouched docs keep their original text byte-for-byte; docs WITH
    # an excision re-render from the normalized (lowercased, reflowed)
    # token stream — the only stream excision positions exist in.
    # Token-bounded shuffles; leave 0 unless the corpus is template-heavy.
    dup_span_k: int = 0
    dup_span_min_docs: int = 2
    # EXACT any-length duplicated-span surgery (0 disables; round 15,
    # X91): after the fixed-k token pass, cut every duplicated run of
    # >= this many CHARACTERS via the cluster-scoped suffix-array
    # hybrid (operators/suffixes.py clustered_exact_substring_dedup —
    # k-grid candidates with exact recall, SA surgery only within
    # candidate clusters, so the one-row-per-char cost applies to
    # candidate bytes).  Character-exact where dup_span_k is
    # token-grid approximate; costlier — reserve for corpora where
    # exactness is the requirement (licensing audits, contamination
    # scrubbing).  Unlike dup_span_k it never re-renders untouched
    # docs (cut_spans passes them through byte-for-byte).
    exact_substring_min_len: int = 0
    exact_substring_min_occurrences: int = 2
    minhash_threshold: float = 0.7
    minhash_hashes: int = 32
    minhash_bands: int = 8
    shingle_k: int = 5
    contamination_n: int = 3
    contamination_threshold: float = 0.2
    sample_fraction: float = 1.0
    # temperature mixture sampling (None disables): when set, the sample
    # stage reweights domains as q_d ∝ p_d^τ at the same overall
    # sample_fraction (operators/sampling.py temperature_mixture_sample)
    # instead of uniform hash_sample.  The domain column is re-joined
    # from the raw corpus (line_dedup's reassembly keeps only id+text).
    mixture_domain_col: str | None = None
    mixture_temperature: float = 0.7
    # percentile quality gate (1.0 disables): after decontamination keep
    # only the top `top_fraction` of docs by quality_score — per domain
    # when mixture_domain_col is set, else globally (exact
    # ceil(frac*n) semantics; operators/sampling.py filter_top_fraction;
    # quality_score ties break by doc id, so the gate is deterministic)
    top_fraction: float = 1.0
    # token budget (0 disables): final cap applied AFTER sampling — keep
    # the best-quality docs per domain (or globally) until `token_budget`
    # tokens are claimed (operators/sampling.py select_to_token_budget).
    # The "give me the best N tokens of this mix" contract.
    token_budget: int = 0
    target_tokens: int = 2048
    n_shards: int = 64
    seed: int = 42


def curate(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    config: CurationConfig = CurationConfig(),
    blocked_sources: DataFrame | None = None,
    source_col: str = "source",
    cache_handles: list | None = None,
    kn_lm_corpus: DataFrame | None = None,
) -> DataFrame:
    """Raw (id, text) corpus + eval/benchmark texts -> packed training
    set: (id, text, n_tokens, shard, chunk_id).

    Deterministic end to end (xxhash-derived survivors, samples, and
    shards — no RNG), so retries and re-runs produce byte-identical
    output, and the sample at a smaller fraction is a subset of the
    sample at a larger one.

    Caching contract: two intermediates (the exact-dedup output and the
    near-dup survivors) are persisted because each is read by two
    downstream branches, and the GLOBAL top-fraction / token-budget
    stages pin an eager localCheckpoint (sampling.PinnedPrefixHandle);
    all stay in executor storage after this returns so the lazy result
    can be materialized.  In a long-lived session pass
    ``cache_handles=[]`` — every cached/checkpointed resource is
    appended to it, and the caller releases them AFTER the result has
    been written (checkpoint handles must not be released earlier —
    lineage is truncated, see PinnedPrefixHandle):

        handles: list = []
        curate(corpus, evals, cache_handles=handles).write.parquet(out)
        for h in handles: h.unpersist()

    Without handles the ContextCleaner frees everything on GC —
    nondeterministic timing; repeated curate() calls in one session
    should pass handles (tests pin zero storage growth over 20 calls).

    ``kn_lm_corpus``: training corpus for the X93 perplexity gate
    (must carry ``text_col``) — the CCNet shape, where the LM comes
    from a trusted clean corpus; None self-trains on the survivors.
    Only read when ``config.kn_keep_fraction < 1``.
    """
    licenses = None
    if config.carry_licenses:
        # PRE-SURGERY by contract (VERDICT r14 #6): the evidence tags
        # live in the raw html and frequently INSIDE duplicated spans
        # (every CC-BY page carries the same badge markup), so this
        # must run before strip_html and before any dedup stage cuts
        # the bytes that carried the declaration
        if not config.html_input:
            raise ValueError(
                "carry_licenses requires html_input=True — license "
                "evidence is extracted from the raw HTML"
            )
        if "url" not in corpus.columns:
            raise ValueError(
                "carry_licenses requires a 'url' column on the corpus "
                "(rel-license hrefs resolve against the page URL)"
            )
        from covid19i2b2_spark.operators.licenses import extract_licenses

        licenses = extract_licenses(
            corpus.select(
                F.col(id_col), "url", F.col(text_col).alias("html")
            )
        ).select(id_col, "license_url", "license_source", "license_id")
    if config.html_input:
        from covid19i2b2_spark.operators.text import strip_html

        corpus = corpus.withColumn(text_col, strip_html(text_col))
    # 0. cheapest filters first: source blocklist (broadcast anti-join),
    # then the map-only Gopher quality gate — both shrink what the
    # shuffling stages below ever see
    if blocked_sources is not None:
        from covid19i2b2_spark.operators.quality import blocklist_filter

        corpus = blocklist_filter(corpus, F.col(source_col), blocked_sources)
    if config.quality_min_words > 0:
        from covid19i2b2_spark.operators.quality import gopher_filter

        passing = gopher_filter(
            corpus,
            id_col,
            text_col,
            min_words=config.quality_min_words,
            **dict(config.quality_rules),
        ).filter(F.col("passes"))
        corpus = corpus.join(passing.select(id_col), id_col, "left_semi")
    if config.classifier_weights:
        from covid19i2b2_spark.operators.quality import classifier_filter

        corpus = classifier_filter(
            corpus,
            text_col,
            list(config.classifier_weights),
            bias=config.classifier_bias,
            threshold=config.classifier_threshold,
        )
    # 1. boilerplate lines out; docs reduced to nothing drop here
    cleaned = line_dedup(
        corpus.select(id_col, text_col),
        id_col,
        text_col,
        max_doc_frac=config.boilerplate_max_doc_frac,
        min_docs=config.boilerplate_min_docs,
    ).filter(F.trim(F.col(text_col)) != "")
    # 1b. optional exact-substring pass: excise cross-doc duplicated
    # k-token runs the line pass can't see (unaligned with line breaks)
    if config.dup_span_k > 0:
        from covid19i2b2_spark.operators.passages import (
            remove_duplicate_spans,
        )

        cleaned = (
            remove_duplicate_spans(
                cleaned,
                id_col,
                text_col,
                k=config.dup_span_k,
                min_docs=config.dup_span_min_docs,
            )
            .select(id_col, F.col("text_deduped").alias(text_col))
            .filter(F.trim(F.col(text_col)) != "")
        )
    # 1c. optional EXACT any-length surgery (X91, round 15): the
    # cluster-scoped suffix-array hybrid — character-exact where 1b's
    # token grid is approximate; docs cut to nothing drop like 1b's
    if config.exact_substring_min_len > 0:
        from covid19i2b2_spark.operators.suffixes import (
            clustered_exact_substring_dedup,
        )

        cleaned = (
            clustered_exact_substring_dedup(
                cleaned,
                id_col,
                text_col,
                config.exact_substring_min_len,
                min_occurrences=config.exact_substring_min_occurrences,
            )
            .select(id_col, F.col("text_dedup").alias(text_col))
            .filter(F.trim(F.col(text_col)) != "")
        )
    # 2. byte-identical dedup on the content fingerprint, min-id survivor.
    # Persisted: uniq is read by BOTH the minhash pair search and the
    # survivor semi-join — without the persist, Spark recomputes the
    # line_dedup + exact_dedup prefix (two shuffles + the posexplode)
    # once per branch (measured ~35% of the chain at sf0.1)
    uniq = exact_dedup(
        cleaned.withColumn("__fp", fingerprint(text_col)),
        keys=["__fp"],
        tiebreak=[id_col],
    ).drop("__fp").persist()
    if cache_handles is not None:
        cache_handles.append(uniq)
    # 3-4. near-dup pair graph -> transitive closure -> min-id survivor
    pairs = minhash_dedup_pairs(
        uniq,
        id_col,
        text_col,
        n_hashes=config.minhash_hashes,
        n_bands=config.minhash_bands,
        shingle_k=config.shingle_k,
        threshold=config.minhash_threshold,
        seed=config.seed,
        cache_handles=cache_handles,
    )
    decision = dedup_decision(
        uniq.select(id_col), pairs, id_col, cache_handles=cache_handles
    )
    # survivors feed the contamination report AND the post-filter join
    survivors = uniq.join(
        decision.filter(F.col("keep")).select(id_col), id_col, "left_semi"
    ).persist()
    if cache_handles is not None:
        cache_handles.append(survivors)
    # 5. decontamination against the (small-by-invariant) eval set
    report = contamination_report(
        survivors,
        eval_df,
        id_col,
        text_col,
        n=config.contamination_n,
        threshold=config.contamination_threshold,
    )
    clean = survivors.join(
        report.filter(~F.col("contaminated")).select(id_col), id_col, "left_semi"
    )
    # 5a'. optional CCNet-style perplexity gate (X93): KN trigram LM
    # (external clean corpus when given, else self-trained on the
    # survivors), then a global percentile threshold — one tiny
    # aggregate broadcast back, map-only filter, no per-doc sort
    if config.kn_keep_fraction < 1.0:
        from covid19i2b2_spark.operators.kn_lm import (
            kn_logprob_score,
            train_kn_lm,
        )
        from covid19i2b2_spark.operators.quality import keep_top_fraction

        # EAGER localCheckpoint, not persist (review r15, twice over):
        # the decontaminated stream is read by the event explode, the
        # score join, and the self-train pass — an unpinned frame
        # re-runs the contamination shingle-join prefix once per
        # reader, and a merely-PERSISTED one still carries the full
        # lineage into every model table's plan, whose fivefold nesting
        # inside the scoring join blows up plan-string generation
        # (observed driver OOM in explainString at toy scale).  The
        # checkpoint truncates lineage at the gate boundary.
        from covid19i2b2_spark.caching import CheckpointHandle

        clean = clean.localCheckpoint(eager=True)
        if cache_handles is not None:
            cache_handles.append(CheckpointHandle(clean))
        lm_src = kn_lm_corpus if kn_lm_corpus is not None else clean
        model = train_kn_lm(
            lm_src,
            text_col,
            top_n_vocab=config.kn_top_n_vocab,
            discount=config.kn_discount,
        )
        if cache_handles is not None:
            cache_handles.extend(
                [
                    model.vocab,
                    model.tri,
                    model.ctx3,
                    model.cc2,
                    model.ctx2,
                    model.cc1,
                ]
            )
        scored = kn_logprob_score(clean, id_col, text_col, model)
        if config.kn_group_col is not None:
            # per-group thresholds (the CCNet per-language form): the
            # group column rides in from the input corpus like the
            # selection-stage domain join below.  NULL group values
            # gate together as their own group — keep_top_fraction's
            # threshold equi-join is null-unsafe, so without the
            # sentinel every NULL-group doc would silently vanish
            # regardless of score (review r15)
            scored = scored.join(
                corpus.select(id_col, config.kn_group_col), id_col
            ).withColumn(
                "__kn_dom",
                F.coalesce(
                    F.col(config.kn_group_col).cast("string"),
                    F.lit("__kn_null"),
                ),
            ).drop(config.kn_group_col)
        else:
            scored = scored.withColumn("__kn_dom", F.lit("1"))
        clean = keep_top_fraction(
            scored,
            "__kn_dom",
            "kn_logprob",
            config.kn_keep_fraction,
        ).drop("__kn_dom", "kn_logprob")
    # Selection-stage prep: the quality score and (when configured) the
    # domain column are attached ONCE and carried through gate ->
    # sample -> budget — attaching per stage would pay the domain join
    # and the quality_score tokenization repeatedly (review r5; the
    # repeated-tokens() cost text.stopword_hits_in documents, ~25%)
    needs_score = config.top_fraction < 1.0 or config.token_budget > 0
    needs_domain = config.mixture_domain_col is not None and (
        needs_score or config.sample_fraction < 1.0
    )
    sel_groups: tuple[str, ...] = (
        (config.mixture_domain_col,) if config.mixture_domain_col else ()
    )
    carried: list[str] = []
    if needs_score:
        from covid19i2b2_spark.operators.text import quality_score

        clean = clean.withColumn("__q", quality_score(F.col(text_col)))
        carried.append("__q")
    if needs_domain:
        clean = clean.join(
            corpus.select(id_col, config.mixture_domain_col), id_col
        )
        carried.append(config.mixture_domain_col)
    # 5b. optional percentile quality gate: keep the top fraction of
    # each domain (or of the whole corpus) by quality score before any
    # sampling — "drop the worst X%" as an exact, deterministic stage
    if config.top_fraction < 1.0:
        from covid19i2b2_spark.operators.sampling import filter_top_fraction

        clean = filter_top_fraction(
            clean, id_col, "__q", config.top_fraction,
            sel_groups, impl="exact", cache_handles=cache_handles,
        )
    # 6. deterministic sample (nested across fractions).  With a domain
    # column configured this becomes the temperature mixture sampler —
    # same overall fraction, per-domain rates reweighted q_d ∝ p_d^τ.
    if config.mixture_domain_col is not None and config.sample_fraction < 1.0:
        from covid19i2b2_spark.operators.sampling import (
            temperature_mixture_sample,
        )

        sampled, _ = temperature_mixture_sample(
            clean,
            id_col,
            config.mixture_domain_col,
            temperature=config.mixture_temperature,
            target_fraction=config.sample_fraction,
            seed=config.seed,
        )
    elif config.sample_fraction < 1.0:
        sampled = hash_sample(
            clean, id_col, config.sample_fraction, seed=config.seed
        )
    else:
        sampled = clean
    # 6b. optional token budget: the final cap — claim the best-quality
    # docs per domain (or globally) until the budget is spent
    counted = sampled.withColumn("n_tokens", token_count(text_col))
    if config.token_budget > 0:
        from covid19i2b2_spark.operators.sampling import (
            select_to_token_budget,
        )

        counted = select_to_token_budget(
            counted,
            id_col,
            "__q",
            "n_tokens",
            budget=config.token_budget,
            group_cols=sel_groups if needs_domain else (),
            cache_handles=cache_handles,
        )
    if carried:
        counted = counted.drop(*carried)
    # 7. shard + chunk assignment for the trainer
    packed = pack_sequences(
        counted,
        id_col,
        "n_tokens",
        target_tokens=config.target_tokens,
        n_shards=config.n_shards,
        seed=config.seed,
    ).select(id_col, text_col, "n_tokens", "shard", "chunk_id")
    if licenses is not None:
        # id-keyed left join re-attaches the PRE-surgery provenance to
        # whatever survived; surgery can cut the evidence bytes but
        # never the fact that the page declared them
        packed = packed.join(licenses, id_col, "left")
    return packed


def corpus_scd2_update(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    effective_col: str = "crawl_date",
    end_col: str = "end_date",
) -> DataFrame:
    """Versioned corpus refresh — the incremental companion to
    :func:`curate` for RE-CRAWLED documents (SCD type-2 over the corpus,
    composed from operators/merge.py since no lakehouse MERGE runtime is
    present in this harness; on a Delta/Iceberg cluster merge_into
    replaces the final union with a file-granular transactional MERGE).

    Semantics per batch row:

    - content CHANGED (fingerprint differs from the doc's current open
      version): the open version closes (``end_col`` := the batch row's
      ``effective_col``) and the new version appends open-ended;
    - content UNCHANGED: the re-crawl is dropped — no spurious version;
    - NEW doc id: appends as the first open version.

    Scale shape: one fingerprint equi-join of the batch against the
    CURRENT (end_col IS NULL) slice + scd2_upsert's anti-join/union —
    all id-keyed, batch-sized right sides, no corpus rewrite beyond the
    union read.  Deterministic: content comparison is md5-fingerprint
    equality, never timestamps alone."""
    current = corpus.filter(F.col(end_col).isNull()).select(
        F.col(id_col), fingerprint(text_col).alias("__cur_fp")
    )
    changed_or_new = (
        batch.withColumn("__fp", fingerprint(text_col))
        .join(current, id_col, "left")
        .filter(F.col("__cur_fp").isNull() | (F.col("__fp") != F.col("__cur_fp")))
        .drop("__fp", "__cur_fp")
    )
    return scd2_upsert(corpus, changed_or_new, [id_col], effective_col, end_col)

"""Seeded input generators for the benchmark workloads.

Every table is a pure function of ``(seed, scale)``: row counts depend
only on ``scale``, values only on ``seed``, so two seeds give inputs of the
same shape and different content.  Bulk rows are built by Spark
expressions over ``spark.range`` (xxhash64 of the seed and the row id), so
generation stays a small share of set-up time.  The small per-document
spec tables of the text workloads are built on the driver and expanded to
text by Spark.

The planted properties (cohort shares, duplicate and near-duplicate
shares, chain lengths, contamination) are stated here as constants and
measured again on the written files by ``measure_*``.
"""

from __future__ import annotations

import os
import random

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

# -- covid_export ------------------------------------------------------------

COVID_EVENTS = 1_000_000  # rows of `events` at scale 1 (10x sf0.1)
COVID_PATIENTS = 50_000  # rows of `customer` at scale 1
SHARE_POSITIVE = 0.30  # patients with a positive test (signup)
SHARE_ADMITTED = 0.50  # of positives: inpatient visit inside the window
SHARE_SEVERE = 0.30  # of admitted: severe marker after admission
SHARE_LAB = 0.60  # patients whose bulk events include lab values
SHARE_LAB_EVENT = 0.45  # of a lab patient's bulk events: lab values
DAY0 = 1704067200  # 2024-01-01 00:00:00 UTC
N_DAYS = 80

# -- curation_stream, curation phase ----------------------------------------

CUR_DOCS = 800
CUR_WORDS = 100  # words per body
LINE_WORDS = 10  # words per line
SHARE_EXACT_COPIES = 0.10  # docs that are byte copies of a base doc
SHARE_CONTAMINATED = 0.03  # docs carrying an eval passage
SHARE_FOOTER = 0.25  # base docs carrying each boilerplate footer line
# Near-duplicate families are chains: member m is the family's word
# stream shifted by m * CHAIN_HOP words, so neighbours share ~80% of
# their 5-char shingles and members two hops apart ~64% (below the 0.7
# MinHash threshold).  A family of n members is a path of n - 1 hops.
# The lengths straddle the 10-round cut-off of min-label components.
CHAIN_LENGTHS = (4, 8, 12, 24, 48)
CHAIN_FAMILIES_PER_LENGTH = 2
CHAIN_HOP = 11
EVAL_PASSAGES = 40
EVAL_WORDS = 60
CONTAM_BODY_WORDS = 40
FOOTERS = (
    "all rights reserved reproduction without permission is prohibited",
    "subscribe to our newsletter for weekly updates and offers",
)

# -- curation_stream, streaming ingest phase ---------------------------------

STREAM_SEED_DOCS = 1500
STREAM_BATCHES = 3
STREAM_BATCH_ROWS = 250
# per batch, by row position: fresh | within-batch copy | cross-batch
# exact copy | near copy (3-word shift of a seed doc, Jaccard ~0.94)
STREAM_SHARES = (0.70, 0.10, 0.10, 0.10)
STREAM_NEAR_SHIFT = 3
STREAM_ID_BASE = 1_000_000

_STREAM_FAMILY = 1 << 40  # word-stream id offsets, one range per kind
_STREAM_CONTAM = 2 << 40
_STREAM_EVAL = 3 << 40
_STREAM_FRESH = 4 << 40


def _u(seed: int, *parts) -> Column:
    """Uniform [0, 1) from the seed and the given columns / literals."""
    args = [p if isinstance(p, Column) else F.lit(p) for p in parts]
    return F.pmod(F.xxhash64(F.lit(seed), *args), F.lit(1 << 30)).cast(
        "double"
    ) / float(1 << 30)


def _word(seed: int, stream: Column, pos: Column) -> Column:
    """Pseudo-word ``pos`` of word stream ``stream``: 7 hex letters."""
    return F.substring(
        F.lower(F.hex(F.xxhash64(F.lit(seed), stream, pos))), 1, 7
    )


def _text(seed: int, stream: Column, start: Column, n_words: int) -> Column:
    """``n_words`` words of a stream from ``start``, LINE_WORDS per line."""
    words = F.transform(
        F.sequence(F.lit(0), F.lit(n_words - 1)),
        lambda j: _word(seed, stream, start + j),
    )
    n_lines = -(-n_words // LINE_WORDS)
    lines = F.transform(
        F.sequence(F.lit(0), F.lit(n_lines - 1)),
        lambda i: F.array_join(F.slice(words, i * LINE_WORDS + 1, LINE_WORDS), " "),
    )
    return F.array_join(lines, "\n")


def _scaled(n: int, scale: float, floor: int) -> int:
    return max(floor, int(round(n * scale)))


# -- covid_export ------------------------------------------------------------


def covid_tables(spark: SparkSession, seed: int, scale: float) -> dict[str, DataFrame]:
    """``events`` + ``customer`` in the testdata schema, shaped for the
    i2b2 adapter (pipelines/adapter.py): signup -> positive test, view ->
    inpatient visit, error -> severe marker, purchase -> lab value,
    click -> diagnosis.

    Per patient the cohort events are planted: a positive test on day
    d0 (20..49), for admitted patients a visit in [d0-3, d0+10] (inside
    the adapter's [-7, +14] window), for severe ones a marker 0..5 days
    after it; positives that are not admitted get a visit 20..39 days
    later, outside the window.  The bulk rows are diagnoses, and lab
    values for lab patients, spread over all N_DAYS days."""
    n_pat = _scaled(COVID_PATIENTS, scale, 200)
    n_bulk = _scaled(COVID_EVENTS, scale, 2000)
    parts = max(1, spark.sparkContext.defaultParallelism)

    def ts(day: Column, salt: int, key: Column) -> Column:
        secs = F.lit(DAY0) + day.cast("long") * 86400 + F.floor(
            _u(seed, key, salt) * 86400
        ).cast("long")
        return F.timestamp_seconds(secs).cast("timestamp_ntz")

    pid = F.col("id")
    pos = _u(seed, pid, 1) < SHARE_POSITIVE
    adm = pos & (_u(seed, pid, 2) < SHARE_ADMITTED)
    sev = adm & (_u(seed, pid, 3) < SHARE_SEVERE)
    d0 = F.lit(20) + F.floor(_u(seed, pid, 4) * 30).cast("int")
    d_adm = d0 - 3 + F.floor(_u(seed, pid, 5) * 14).cast("int")
    d_sev = d_adm + F.floor(_u(seed, pid, 6) * 6).cast("int")
    d_out = d0 + 20 + F.floor(_u(seed, pid, 7) * 20).cast("int")
    planted = (
        spark.range(n_pat, numPartitions=parts)
        .select(
            pid.alias("p"),
            F.array(
                _ev(0, pos, "signup", d0),
                _ev(1, adm, "view", d_adm),
                _ev(2, sev, "error", d_sev),
                _ev(3, pos & ~adm, "view", d_out),
            ).alias("evs"),
        )
        .select("p", F.explode("evs").alias("e"))
        .filter(F.col("e.on"))
        .select(
            (F.lit(n_bulk) + F.col("p") * 4 + F.col("e.k")).alias("event_id"),
            F.col("p").alias("user_id"),
            F.col("e.t").alias("event_type"),
            F.col("e.d").alias("day"),
        )
    )
    eid = F.col("id")
    user = F.floor(_u(seed, eid, 11) * n_pat).cast("long")
    lab_user = _u(seed, user, 8) < SHARE_LAB
    bulk = spark.range(n_bulk, numPartitions=parts).select(
        eid.alias("event_id"),
        user.alias("user_id"),
        F.when(lab_user & (_u(seed, eid, 12) < SHARE_LAB_EVENT), "purchase")
        .otherwise("click")
        .alias("event_type"),
        F.floor(_u(seed, eid, 13) * N_DAYS).cast("int").alias("day"),
    )
    k = F.col("event_id")
    events = bulk.unionByName(planted).select(
        "event_id",
        ts(F.col("day"), 14, k).alias("ts"),
        "user_id",
        "event_type",
        F.round(_u(seed, k, 15) * 400 + 0.01, 2).alias("value"),
        F.format_string('{"k": %d}', F.floor(_u(seed, k, 16) * 100).cast("int")).alias("props"),
    )
    segments = F.array(*[F.lit(s) for s in ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")])
    customer = spark.range(n_pat, numPartitions=1).select(
        pid.alias("c_custkey"),
        F.format_string("Customer#%09d", pid).alias("c_name"),
        F.floor(_u(seed, pid, 21) * 25).cast("int").alias("c_nationkey"),
        F.round(_u(seed, pid, 22) * 11000 - 1000, 2).alias("c_acctbal"),
        F.element_at(segments, (F.floor(_u(seed, pid, 23) * 5) + 1).cast("int")).alias("c_mktsegment"),
    )
    return {"events": events, "customer": customer}


def _ev(k: int, on: Column, event_type: str, day: Column) -> Column:
    return F.struct(
        F.lit(k).alias("k"), on.alias("on"), F.lit(event_type).alias("t"), day.alias("d")
    )


def write_covid(spark: SparkSession, seed: int, scale: float, out_dir: str) -> None:
    for name, df in covid_tables(spark, seed, scale).items():
        df.write.mode("overwrite").parquet(os.path.join(out_dir, f"{name}.parquet"))


def measure_covid(con, in_dir: str) -> dict[str, float]:
    """Measured shares on the written files (DuckDB)."""
    ev = f"read_parquet('{in_dir}/events.parquet/*.parquet')"
    cu = f"read_parquet('{in_dir}/customer.parquet/*.parquet')"
    (n_events,) = con.execute(f"SELECT count(*) FROM {ev}").fetchone()
    (n_pat,) = con.execute(f"SELECT count(*) FROM {cu}").fetchone()
    row = con.execute(
        f"""
        WITH pos AS (SELECT user_id, min(CAST(ts AS DATE)) d FROM {ev}
                     WHERE event_type = 'signup' GROUP BY 1),
        adm AS (SELECT DISTINCT v.user_id FROM {ev} v JOIN pos USING (user_id)
                WHERE v.event_type = 'view'
                  AND CAST(v.ts AS DATE) BETWEEN pos.d - 7 AND pos.d + 14),
        sev AS (SELECT DISTINCT e.user_id FROM {ev} e JOIN adm USING (user_id)
                WHERE e.event_type = 'error')
        SELECT (SELECT count(*) FROM pos), (SELECT count(*) FROM adm),
               (SELECT count(*) FROM sev),
               (SELECT count(DISTINCT user_id) FROM {ev} WHERE event_type = 'purchase'),
               (SELECT count(*) FROM adm WHERE user_id % 13 = 0)
        """
    ).fetchone()
    n_pos, n_adm, n_sev, n_lab, n_dead = row
    return {
        "events": n_events,
        "patients": n_pat,
        "positive_share": n_pos / n_pat,
        "admitted_share_of_positive": n_adm / max(n_pos, 1),
        "severe_share_of_admitted": n_sev / max(n_adm, 1),
        "lab_patient_share": n_lab / n_pat,
        "deceased_share_of_cohort": n_dead / max(n_adm, 1),
    }


# -- curation_stream, curation phase ----------------------------------------


class CurationSpec:
    """Driver-side plan of the curation corpus: one row per document
    naming the word streams its text is cut from, plus the planted
    groups the output check and the trace read back."""

    def __init__(self, scale: float, seed: int):
        n_docs = _scaled(CUR_DOCS, scale, 200)
        per_len = max(1, int(round(CHAIN_FAMILIES_PER_LENGTH * min(scale, 1.0))))
        self.families: list[list[int]] = []
        self.copies: dict[int, list[int]] = {}  # original id -> copy ids
        self.contaminated: list[int] = []
        n_fam = per_len * sum(CHAIN_LENGTHS)
        n_copy = int(n_docs * SHARE_EXACT_COPIES)
        n_contam = max(1, int(n_docs * SHARE_CONTAMINATED))
        n_base = n_docs - n_fam - n_copy - n_contam
        if n_base < n_copy:
            raise ValueError(f"scale {scale} leaves too few base documents")
        rows = []  # (doc_id, stream, start, n_words, stream2, n_words2)
        for i in range(n_base):
            rows.append((i, i, 0, CUR_WORDS, 0, 0))
        for c in range(n_copy):
            src = (c * 7) % n_base
            doc_id = n_base + c
            rows.append((doc_id, src, 0, CUR_WORDS, 0, 0))
            self.copies.setdefault(src, []).append(doc_id)
        # ids run in a seeded random order along each chain, as crawl ids
        # do: monotone ids would let min-label propagation reach every
        # member from the chain's head and hide its round cut-off
        rng = random.Random(seed)
        doc_id = n_base + n_copy
        f = 0
        for _ in range(per_len):
            for length in CHAIN_LENGTHS:
                members = list(range(doc_id, doc_id + length))
                rng.shuffle(members)
                for m, member in enumerate(members):
                    rows.append((member, _STREAM_FAMILY + f, m * CHAIN_HOP, CUR_WORDS, 0, 0))
                self.families.append(members)
                doc_id += length
                f += 1
        for c in range(n_contam):
            rows.append(
                (doc_id, _STREAM_CONTAM + c, 0, CONTAM_BODY_WORDS,
                 _STREAM_EVAL + c % EVAL_PASSAGES, EVAL_WORDS)
            )
            self.contaminated.append(doc_id)
            doc_id += 1
        self.rows = rows
        self.n_docs = len(rows)

    def chain_hops(self) -> dict[int, int]:
        """Histogram: hop count (members - 1) -> number of families."""
        hist: dict[int, int] = {}
        for fam in self.families:
            hist[len(fam) - 1] = hist.get(len(fam) - 1, 0) + 1
        return dict(sorted(hist.items()))


def curation_tables(
    spark: SparkSession, seed: int, spec: CurationSpec
) -> dict[str, DataFrame]:
    """(doc_id, text, source) corpus and (doc_id, text) eval set."""
    ddl = "doc_id long, stream long, start int, n1 int, stream2 long, n2 int"
    plan = spark.createDataFrame(spec.rows, ddl).repartition(
        max(1, spark.sparkContext.defaultParallelism), "doc_id"
    )
    s, st = F.col("stream"), F.col("start")
    body = F.when(F.col("n1") == CUR_WORDS, _text(seed, s, st, CUR_WORDS)).otherwise(
        _text(seed, s, st, CONTAM_BODY_WORDS)
    )
    passage = _text(seed, F.col("stream2"), F.lit(0), EVAL_WORDS)
    footers = [
        F.when(_u(seed, s, st, 100 + i) < SHARE_FOOTER, F.lit(line))
        for i, line in enumerate(FOOTERS)
    ]
    text = F.concat_ws(
        "\n", body, F.when(F.col("n2") > 0, passage), *footers
    )
    corpus = plan.select(
        "doc_id",
        text.alias("text"),
        F.concat(F.lit("src"), F.pmod(F.col("stream"), F.lit(20)).cast("string")).alias("source"),
    )
    evals = spark.range(EVAL_PASSAGES, numPartitions=1).select(
        F.col("id").alias("doc_id"),
        _text(seed, F.lit(_STREAM_EVAL) + F.col("id"), F.lit(0), EVAL_WORDS).alias("text"),
    )
    return {"corpus": corpus, "evals": evals}


def write_curation(spark: SparkSession, seed: int, spec: CurationSpec, out_dir: str) -> None:
    for name, df in curation_tables(spark, seed, spec).items():
        df.write.mode("overwrite").parquet(os.path.join(out_dir, f"{name}.parquet"))


def measure_curation(con, in_dir: str, spec: CurationSpec) -> dict[str, object]:
    corpus = f"read_parquet('{in_dir}/corpus.parquet/*.parquet')"
    n, n_distinct, n_footer = con.execute(
        f"""SELECT count(*), count(DISTINCT text),
                   count(*) FILTER (WHERE contains(text, '{FOOTERS[0]}')
                                       OR contains(text, '{FOOTERS[1]}'))
            FROM {corpus}"""
    ).fetchone()
    (n_contam,) = con.execute(
        f"""SELECT count(*) FROM {corpus} c
            WHERE EXISTS (SELECT 1 FROM read_parquet('{in_dir}/evals.parquet/*.parquet') e
                          WHERE contains(c.text, e.text))"""
    ).fetchone()
    fam_docs = sum(len(f) for f in spec.families)
    return {
        "docs": n,
        "exact_dup_share": (n - n_distinct) / n,
        "near_dup_family_share": fam_docs / n,
        "chain_hops_hist": spec.chain_hops(),
        "contaminated_share": n_contam / n,
        "boilerplate_doc_share": n_footer / n,
    }


# -- curation_stream, streaming ingest phase ---------------------------------


class StreamSpec:
    """Seed corpus plus batch files, with the expected survivors of each
    batch: the fresh rows (within-batch copies carry higher ids, so the
    lowest-id survivor is always the fresh original)."""

    def __init__(self, scale: float):
        self.n_seed = _scaled(STREAM_SEED_DOCS, scale, 100)
        self.n_batches = STREAM_BATCHES
        rows_per = _scaled(STREAM_BATCH_ROWS, scale, 40)
        cuts = []
        acc = 0.0
        for share in STREAM_SHARES:
            acc += share
            cuts.append(int(round(acc * rows_per)))
        n_fresh, n_within, n_cross = cuts[0], cuts[1] - cuts[0], cuts[2] - cuts[1]
        self.seed_rows = [(i, i, 0) for i in range(self.n_seed)]
        self.batches: list[list[tuple[int, int, int]]] = []  # (id, stream, start)
        self.expected: list[set[int]] = []
        self.planted_cross: list[int] = []
        for b in range(self.n_batches):
            base = STREAM_ID_BASE + b * 10_000
            rows = []
            fresh = [(base + r, _STREAM_FRESH + b * 10_000 + r, 0) for r in range(n_fresh)]
            rows += fresh
            for r in range(n_within):
                rows.append((base + n_fresh + r, fresh[r % n_fresh][1], 0))
            for r in range(n_cross):
                if b > 0 and r % 2:
                    src = _STREAM_FRESH + (b - 1) * 10_000 + r % n_fresh
                else:
                    src = (b * 53 + r) % self.n_seed
                rows.append((base + n_fresh + n_within + r, src, 0))
                self.planted_cross.append(base + n_fresh + n_within + r)
            for r in range(rows_per - cuts[2]):
                src = (b * 53 + r + self.n_seed // 2) % self.n_seed
                rows.append((base + cuts[2] + r, src, STREAM_NEAR_SHIFT))
            self.batches.append(rows)
            self.expected.append({i for i, _, _ in fresh})
        self.rows_per_batch = rows_per
        self.kinds = {
            "fresh": n_fresh,
            "within_batch_dup": n_within,
            "cross_batch_exact_dup": n_cross,
            "near_dup": rows_per - cuts[2],
        }

    def shares(self) -> dict[str, float]:
        return {f"{k}_share": v / self.rows_per_batch for k, v in self.kinds.items()}


def _stream_docs(spark: SparkSession, seed: int, rows, parts: int) -> DataFrame:
    plan = spark.createDataFrame(rows, "doc_id long, stream long, start int, batch int")
    return plan.repartition(parts, "batch").select(
        "doc_id",
        _text(seed, F.col("stream"), F.col("start"), CUR_WORDS).alias("text"),
        "batch",
    )


def write_stream(spark: SparkSession, seed: int, spec: StreamSpec, out_dir: str) -> None:
    """Seed corpus parquet plus one single-file parquet per batch under
    ``out_dir/batches`` with increasing mtimes, so a file stream with
    maxFilesPerTrigger=1 replays them in order, one epoch each."""
    import glob
    import shutil

    parts = max(1, spark.sparkContext.defaultParallelism)
    seed_rows = [r + (r[0] % parts,) for r in spec.seed_rows]
    _stream_docs(spark, seed, seed_rows, parts).drop("batch").write.mode(
        "overwrite"
    ).parquet(os.path.join(out_dir, "seed.parquet"))
    # one job writes every batch: rows are hash-partitioned by batch, so
    # each batch= directory receives exactly one file
    staging = os.path.join(out_dir, "staging")
    batch_rows = [r + (b,) for b, rows in enumerate(spec.batches) for r in rows]
    _stream_docs(spark, seed, batch_rows, spec.n_batches).write.mode(
        "overwrite"
    ).partitionBy("batch").parquet(staging)
    batches = os.path.join(out_dir, "batches")
    shutil.rmtree(batches, ignore_errors=True)
    os.makedirs(batches)
    for b in range(spec.n_batches):
        (part,) = glob.glob(os.path.join(staging, f"batch={b}", "part-*.parquet"))
        dst = os.path.join(batches, f"batch-{b:03d}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (DAY0 + b, DAY0 + b))
    shutil.rmtree(staging, ignore_errors=True)


def measure_stream(con, in_dir: str, spec: StreamSpec) -> dict[str, float]:
    glob_ = f"read_parquet('{in_dir}/batches/*.parquet')"
    n, n_distinct = con.execute(
        f"SELECT count(*), count(DISTINCT text) FROM {glob_}"
    ).fetchone()
    out = {"seed_docs": spec.n_seed, "batches": spec.n_batches, "batch_rows": n}
    out.update(spec.shares())
    out["measured_exact_dup_share_within_batches"] = (n - n_distinct) / n
    return out

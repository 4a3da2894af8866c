"""Cross-snapshot (incremental) deduplication: filter a NEW crawl batch
against a persisted index of everything already in the corpus, then fold
the batch's survivors into the index (SURVEY §2.11 X1/X2 — the shape a
production training-data pipeline actually runs: the corpus is built in
snapshots, and each snapshot dedups against all prior ones without
re-scanning them).

The index is two parquet tables under one root:

- ``fingerprints/``: (fingerprint, doc_id) — md5 of normalized text, the
  exact-dup key.  Incremental exact dedup is a LEFT ANTI join of the new
  batch's fingerprints against it: one equi-join, no full-corpus rescan.
- ``bands/``: (band, bucket, doc_id, signature) — the MinHash LSH band
  index.  Near-dup filtering equi-joins the new batch's bands against it
  (same candidate shape as dedup.lsh_candidate_pairs, never all-pairs)
  and verifies candidates by MinHash agreement on the stored signatures
  — the raw text of indexed documents is never read again.

Scale: both joins key on high-cardinality columns (fingerprint /
(band, bucket)); the index side streams through the shuffle (or stays
in place if written bucketed via sources/layout.py), skewed boilerplate
buckets are AQE-split, and updates are parquet APPENDS of batch-sized
deltas.  Nothing is broadcast (either side can be huge) and nothing is
collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from covid19i2b2_spark.operators.dedup import (
    exact_dedup,
    minhash_signatures,
)
from covid19i2b2_spark.operators.text import fingerprint


def _fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(
        fingerprint(text_col).alias("fingerprint"), F.col(id_col).alias("doc_id")
    )


def _bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int,
    shingle_k: int,
    n_bands: int,
    seed: int,
    signature_impl: str = "kernel",
) -> DataFrame:
    """(band, bucket, doc_id, signature) — banded MinHash signatures.
    Mirrors lsh_candidate_pairs' banding so index and query agree.

    ``signature_impl='kernel'`` (default) computes signatures in the
    narrow Arrow pass (operators/minhash_kernel.py — no shingle explode,
    no aggregation shuffle); 'expr' keeps the explode+aggregate path.
    The two produce DIFFERENT signature values (different shingle
    hashes), which is why the impl is part of the index identity."""
    if signature_impl == "kernel":
        from covid19i2b2_spark.operators.minhash_kernel import (
            minhash_signatures_kernel,
        )

        sigs = minhash_signatures_kernel(
            df, id_col, text_col, n_hashes, shingle_k, seed
        ).select(id_col, "signature")
    elif signature_impl == "expr":
        sigs = minhash_signatures(
            df, id_col, text_col, n_hashes=n_hashes, shingle_k=shingle_k, seed=seed
        )
    else:
        raise ValueError(
            f"signature_impl must be 'kernel' or 'expr' (got {signature_impl!r})"
        )
    rows_per_band = n_hashes // n_bands
    return sigs.select(
        F.col(id_col).alias("doc_id"),
        "signature",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.struct(
                    b.cast("int").alias("band"),
                    F.xxhash64(
                        F.slice("signature", b * rows_per_band + 1, rows_per_band)
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("bb.band", "bb.bucket", "doc_id", "signature")


class DedupIndex:
    """Paths + parameters of a persisted dedup index.  Parameters are
    part of the index identity: querying with different shingle/hash
    settings than it was built with would silently miss everything."""

    def __init__(
        self,
        path: str,
        n_hashes: int = 32,
        shingle_k: int = 5,
        n_bands: int = 8,
        seed: int = 42,
        signature_impl: str = "kernel",
    ):
        if n_hashes % n_bands != 0:
            raise ValueError("n_bands must divide n_hashes")
        self.path = path.rstrip("/")
        self.n_hashes = n_hashes
        self.shingle_k = shingle_k
        self.n_bands = n_bands
        self.seed = seed
        # signature_impl is index identity too: 'kernel' (Arrow pass,
        # splitmix shingle hash — default since round 4) and 'expr'
        # (explode+aggregate, xxhash64) store DIFFERENT signature
        # values; an index built under one must not be queried or
        # appended under the other (same contract as changing seed).
        self.signature_impl = signature_impl
        # cached DataFrames + bitmap broadcasts issued by the LAST
        # filter_batch call; see release()
        self._resources: list = []

    def release(self) -> None:
        """Unpersist the cached frames and the bitmap broadcasts of the
        previous :meth:`filter_batch` call (review r7): each call
        persists up to 5 intermediates and (bloom mode) broadcasts up
        to 2 bitmaps, none of which Spark ever reclaims on its own — a
        long-running micro-batch ingest loop would grow executor
        storage without bound.  Called automatically at the START of
        every filter_batch (the previous batch's results have been
        consumed by then); streaming loops also call it after
        checkpointing survivors.

        Released results stay CORRECT if re-evaluated — frames
        recompute instead of reading cache, and broadcasts use
        ``unpersist()`` (executor copies dropped, driver value kept,
        re-shipped on demand), NOT ``destroy()``, which would leave the
        previous results' UDF closures pointing at a dead broadcast and
        crash their recompute (review r7 second pass).  Frames the
        CALLER had already persisted before passing them in are never
        released — only caches this class created."""
        for r in self._resources:
            try:
                r.unpersist()  # same method on DataFrame and Broadcast
            except Exception:
                pass  # a stopped session can't release; nothing to leak
        self._resources = []

    @property
    def fp_path(self) -> str:
        return f"{self.path}/fingerprints"

    @property
    def bands_path(self) -> str:
        return f"{self.path}/bands"

    @property
    def blooms_path(self) -> str:
        """Parent dir of both bloom tables — its EXISTENCE is the
        write_blooms opt-in signal: append() deletes a torn table
        SUBDIR (leaving the parent), build() deletes the parent, so
        filter_batch's self-heal can tell 'opted in, needs re-persist'
        from 'never opted in' even after a torn table was dropped."""
        return f"{self.path}/blooms"

    @property
    def bloom_fp_path(self) -> str:
        return f"{self.path}/blooms/fingerprints"

    @property
    def bloom_bands_path(self) -> str:
        return f"{self.path}/blooms/bands"

    @property
    def sharded_fp_path(self) -> str:
        """X50 sharded-bloom form of the fingerprint gate (round 9,
        VERDICT r8 #2) — the path past the flat bitmap's ``max_bytes``
        guard.  Presence of this dir switches append/filter_batch to
        the sharded build/append/probe lifecycle."""
        return f"{self.path}/blooms/sharded_fp"

    @property
    def sharded_bands_path(self) -> str:
        return f"{self.path}/blooms/sharded_bands"

    @staticmethod
    def _band_key():
        """(band, bucket) -> the one long key both the persisted band
        bloom and its probes hash; must match between write_blooms/
        append/filter_batch or the bloom silently answers garbage.
        Built lazily — Column construction needs an active session."""
        return F.xxhash64("band", "bucket")

    def _write(self, df: DataFrame, id_col: str, text_col: str, mode: str) -> None:
        _fingerprints(df, id_col, text_col).write.mode(mode).parquet(self.fp_path)
        _bands(
            df,
            id_col,
            text_col,
            self.n_hashes,
            self.shingle_k,
            self.n_bands,
            self.seed,
            self.signature_impl,
        ).write.mode(mode).parquet(self.bands_path)

    def build(self, corpus: DataFrame, id_col: str, text_col: str) -> None:
        """Create the index from the initial corpus snapshot.  Blooms
        are NOT built here — call :meth:`write_blooms` once after build
        to opt in; :meth:`append` then maintains them.

        Any EXISTING bloom tables are deleted first (review r7 #1): a
        re-build over the same path replaces the index contents, and a
        stale bloom from the previous contents would answer FALSE
        NEGATIVES for keys only in the new corpus — rows would skip
        the exact joins entirely and duplicate silently.  Deletion
        happens BEFORE the table overwrite so a crash in between
        leaves no bloom (rebuild fallback), never a wrong one."""
        from covid19i2b2_spark.fsutil import hadoop_fs

        fs, jpath = hadoop_fs(corpus.sparkSession, f"{self.path}/blooms")
        if fs.exists(jpath):
            fs.delete(jpath, True)
        self._write(corpus, id_col, text_col, "overwrite")

    def write_blooms(
        self,
        spark: SparkSession,
        fpp: float = 0.01,
        sharded: int | None = None,
    ) -> None:
        """Build + persist Bloom bitmaps over the CURRENT index tables
        (round 7, X46 persisted form): fingerprints keyed by the
        fingerprint value, bands keyed by xxhash64(band, bucket).  One
        no-row-shuffle scan each; sized to the tables' current counts at
        ``fpp``.  Once present, :meth:`append` keeps them current and
        :meth:`filter_batch` (bloom_fpp set) loads them instead of
        rebuilding per batch — the steady-state saving is exactly the
        two index scans per batch the rebuild path pays.

        ``sharded=n_shards`` (round 9, VERDICT r8 #2) builds the X50
        key-range-SHARDED index instead — per-shard bitmaps written
        partitionBy(shard) straight from the executors, probed by the
        narrow cogroup kernel.  This is the form past the flat bitmap's
        1 GB ``max_bytes`` guard (a 1%-fpp bloom over 10^10 fingerprints
        is ~12 GB — no single bitmap should ever exist).  The two modes
        are mutually exclusive per index: switching modes deletes the
        other mode's tables FIRST (a stale table of the old mode would
        go unmaintained by append and answer false negatives later),
        so a crash mid-switch leaves at most NO bloom (rebuild
        fallback), never a wrong one."""
        from covid19i2b2_spark.fsutil import hadoop_fs
        from covid19i2b2_spark.operators.bloom import (
            build_bloom,
            delete_bloom_table,
            write_bloom_table,
        )

        fp = spark.read.parquet(self.fp_path)
        bands = spark.read.parquet(self.bands_path)
        band_keys = bands.select(self._band_key().alias("__bb"))
        if sharded is not None:
            from covid19i2b2_spark.operators.bloom_sharded import (
                build_sharded_bloom,
            )

            delete_bloom_table(spark, self.bloom_fp_path)
            delete_bloom_table(spark, self.bloom_bands_path)
            build_sharded_bloom(
                fp, "fingerprint", self.sharded_fp_path,
                n_shards=sharded, fpp=fpp,
            )
            build_sharded_bloom(
                band_keys, "__bb", self.sharded_bands_path,
                n_shards=sharded, fpp=fpp,
            )
            return
        for p in (self.sharded_fp_path, self.sharded_bands_path):
            fs, jp = hadoop_fs(spark, p)
            if fs.exists(jp):
                fs.delete(jp, True)
        write_bloom_table(
            spark,
            build_bloom(fp, "fingerprint", fpp=fpp),
            self.bloom_fp_path,
        )
        write_bloom_table(
            spark,
            build_bloom(band_keys, "__bb", fpp=fpp),
            self.bloom_bands_path,
        )

    def _sharded_healthy(self, spark: SparkSession, path: str) -> bool:
        """True iff a READABLE sharded bloom exists at ``path``.  A
        present-but-unreadable (torn) table is DELETED — the same
        self-heal discipline as the flat tables in :meth:`append`:
        skipping a torn table would append index rows it never
        receives, and a later transient-failure recovery would load it
        STALE and answer false negatives for exactly those keys."""
        from covid19i2b2_spark.fsutil import hadoop_fs
        from covid19i2b2_spark.operators.bloom_sharded import (
            read_sharded_meta,
        )

        fs, jp = hadoop_fs(spark, path)
        if not fs.exists(jp):
            return False
        if read_sharded_meta(spark, path) is None:
            fs.delete(jp, True)
            return False
        return True

    def stats(self, spark: SparkSession) -> dict:
        """Health signals (round 9 — the FuzzyIndex.stats symmetry):
        persisted row counts vs the distinct counts a clean history
        would hold, plus the duplication ratio.  Row duplication comes
        only from the crash window between a streaming epoch's append
        and its marker (documented benign: the index is read through
        anti-joins / DISTINCT candidates) — a ratio creeping above 1
        is the cue to :meth:`compact`.  Two aggregate jobs over
        index-sized tables; a maintenance call, not per batch."""
        fp = spark.read.parquet(self.fp_path)
        bands = spark.read.parquet(self.bands_path)
        f = fp.agg(
            F.count("*").alias("n"),
            F.count_distinct(F.struct("fingerprint", "doc_id")).alias("d"),
        ).collect()[0]
        b = bands.agg(
            F.count("*").alias("n"),
            F.count_distinct(F.struct("band", "bucket", "doc_id")).alias(
                "d"
            ),
        ).collect()[0]
        return {
            "fingerprint_rows": f["n"],
            "fingerprint_distinct": f["d"],
            "band_rows": b["n"],
            "band_distinct": b["d"],
            "duplication_ratio": (
                round((f["n"] + b["n"]) / (f["d"] + b["d"]), 4)
                if (f["d"] + b["d"])
                else 1.0
            ),
        }

    def compact(self, spark: SparkSession) -> None:
        """Rebuild the fingerprint and band tables dropping replayed
        duplicate rows (round 9): storage and join volume shrink,
        results never change (both tables are consumed through
        anti-joins / DISTINCT candidate sets).  Blooms are untouched —
        their bits are a superset-idempotent function of the SAME keys,
        so deduplicating rows cannot invalidate them.  Frames are
        pinned (eager localCheckpoint) before overwriting the paths
        they were read from, then released."""
        from covid19i2b2_spark.caching import release_local_checkpoint

        fp = (
            spark.read.parquet(self.fp_path)
            .dropDuplicates(["fingerprint", "doc_id"])
            .localCheckpoint(eager=True)
        )
        bands = (
            spark.read.parquet(self.bands_path)
            .dropDuplicates(["band", "bucket", "doc_id"])
            .localCheckpoint(eager=True)
        )
        fp.write.mode("overwrite").parquet(self.fp_path)
        bands.write.mode("overwrite").parquet(self.bands_path)
        release_local_checkpoint(fp)
        release_local_checkpoint(bands)

    def append(self, survivors: DataFrame, id_col: str, text_col: str) -> None:
        """Fold a batch's surviving documents into the index — a
        batch-sized parquet append, no index rewrite.

        The input is materialized (localCheckpoint) BEFORE writing:
        ``filter_batch`` survivors lazily anti-join against the
        fingerprint index, so appending fingerprints first and then
        re-evaluating that plan for the bands write would see the
        batch's OWN fingerprints and append an empty bands delta.
        Batch-sized, so the checkpoint copy is cheap; at scale use a
        reliable checkpoint dir or stage the batch to parquet first.

        If persisted blooms exist (:meth:`write_blooms`), the batch's
        keys are OR'd in and the bloom tables rewritten BEFORE the
        parquet appends — deliberate ordering: a crash in between
        leaves bloom bits for rows the index never received, which only
        costs false positives (caught by the exact joins); the reverse
        order could leave indexed rows missing from the bloom, whose
        false NEGATIVES would let dups through unchecked.  The OR is
        idempotent, so at-least-once epoch replays are safe.

        A bloom table that is PRESENT but unreadable (torn write,
        transient FS failure) is DELETED here rather than skipped
        (ADVICE r7): skipping would append rows the bloom never
        receives, and if the read failure was transient the
        intact-on-disk bloom would later load STALE and answer false
        negatives for exactly this batch's keys — the failure mode the
        bloom-before-table ordering exists to prevent.  Deletion makes
        later readers fall back to the rebuild path (cost: one scan),
        and filter_batch's self-heal persists a fresh bloom on its next
        call."""
        from covid19i2b2_spark.operators.bloom import (
            delete_bloom_table,
            or_into,
            read_bloom_table,
            write_bloom_table,
        )

        pinned = survivors.localCheckpoint(eager=True)
        spark = pinned.sparkSession
        fp_spec = read_bloom_table(spark, self.bloom_fp_path)
        if fp_spec is None:
            delete_bloom_table(spark, self.bloom_fp_path)  # torn -> no-op
        else:
            write_bloom_table(
                spark,
                or_into(
                    fp_spec,
                    _fingerprints(pinned, id_col, text_col),
                    "fingerprint",
                ),
                self.bloom_fp_path,
            )
        # sharded-bloom maintenance (X50, round 9): same
        # bloom-before-table ordering; append_sharded_bloom's versioned
        # write + pointer-flip-LAST makes a crash mid-append leave the
        # OLD version live (extra bits only after the flip — false
        # positives at worst), and bit-idempotence makes replays safe
        sh_fp = self._sharded_healthy(spark, self.sharded_fp_path)
        sh_bands = self._sharded_healthy(spark, self.sharded_bands_path)
        if sh_fp:
            from covid19i2b2_spark.operators.bloom_sharded import (
                append_sharded_bloom,
            )

            append_sharded_bloom(
                _fingerprints(pinned, id_col, text_col),
                "fingerprint",
                self.sharded_fp_path,
            )
        band_spec = read_bloom_table(spark, self.bloom_bands_path)
        if band_spec is None:
            delete_bloom_table(spark, self.bloom_bands_path)
        batch_bands = _bands(
            pinned,
            id_col,
            text_col,
            self.n_hashes,
            self.shingle_k,
            self.n_bands,
            self.seed,
            self.signature_impl,
        )
        bands_pinned = band_spec is not None or sh_bands
        if bands_pinned:
            # the band frame feeds the bloom OR/append AND the parquet
            # append below — pin it so the MinHash signature kernel (the
            # dominant per-append cost) runs once, not twice (review r7)
            batch_bands = batch_bands.localCheckpoint(eager=True)
        if band_spec is not None:
            write_bloom_table(
                spark,
                or_into(
                    band_spec,
                    batch_bands.select(self._band_key().alias("__bb")),
                    "__bb",
                ),
                self.bloom_bands_path,
            )
        if sh_bands:
            from covid19i2b2_spark.operators.bloom_sharded import (
                append_sharded_bloom,
            )

            append_sharded_bloom(
                batch_bands.select(self._band_key().alias("__bb")),
                "__bb",
                self.sharded_bands_path,
            )
        _fingerprints(pinned, id_col, text_col).write.mode("append").parquet(
            self.fp_path
        )
        batch_bands.write.mode("append").parquet(self.bands_path)
        # both checkpoints are fully consumed once the appends return —
        # release their executor storage now (ADVICE r8 #4) instead of
        # accumulating one batch-sized copy per append until GC (the
        # leak class the CheckpointHandle protocol exists to close)
        from covid19i2b2_spark.caching import release_local_checkpoint

        release_local_checkpoint(pinned)
        if bands_pinned:
            release_local_checkpoint(batch_bands)

    def filter_batch(
        self,
        spark: SparkSession,
        batch: DataFrame,
        id_col: str,
        text_col: str,
        sim_threshold: float = 0.7,
        bloom_fpp: float | None = None,
        bloom_broadcast_bytes: int = 128 << 20,
    ) -> tuple[DataFrame, DataFrame]:
        """Dedup a new batch within itself AND against the index.

        Returns (survivors, dropped) where dropped is
        (doc_id, reason: 'exact_dup'|'near_dup') — every input row lands
        in exactly one of the two.

        Order of passes (each one equi-join):
        1. within-batch exact dedup (deterministic lowest-id survivor);
        2. anti-join fingerprints against the index;
        3. within-batch + vs-index LSH near-dup: candidates from band
           agreement, verified by MinHash signature agreement >=
           sim_threshold (estimates Jaccard without re-reading text).

        ``bloom_fpp`` (round 7, X46): when set, Bloom bitmaps built from
        the index's fingerprints and (band, bucket) keys pre-filter the
        batch MAP-SIDE before passes 2 and 3's vs-index joins.  In the
        steady state most batch rows are new and match nothing, so the
        candidate set shrinks from |batch| to ~|dups| + fpp·|batch| —
        and once candidates fit ``bloom_broadcast_bytes`` (estimated
        from row counts x per-side row widths — the band side carries
        the n_hashes-int signature array, ~8x a fingerprint row, so a
        single row-count knob would mis-gate it; review r7), the
        vs-index checks flip to BROADCAST joins streamed over the index
        scan:
        the corpus-sized index tables never shuffle at all (the plain
        anti-join sort-merges BOTH sides; a bucketed index avoids its
        side too, but only the bloom+broadcast form avoids it for a
        plain parquet index).  The exact joins still decide every
        candidate, so results are byte-identical with the filter on or
        off (pinned in tests/test_bloom.py); the blooms cost one
        no-row-shuffle scan of each index table (~9.6 bits/key at
        fpp=0.01 — see operators/bloom.py for the 100 TB sizing math).
        At sf0.1 bench scale the joins are trivially cheap and the
        bloom-build floor dominates — the entry exists to pin the plan
        shape, not to show a small-data speedup.

        When the index was opted into the SHARDED form
        (``write_blooms(sharded=n)``, round 9) the same gate runs
        through the X50 narrow-cogroup probe instead of a broadcast
        bitmap — no single bitmap ever exists, which is what unlocks
        10^10+-key indexes; results stay byte-identical
        (tests/test_bloom.py parameterizes the equality over
        flat|sharded).
        """
        if bloom_fpp is not None:
            from covid19i2b2_spark.operators.bloom import (
                build_bloom,
                fill_ratio,
                might_contain,
                read_bloom_table,
                write_bloom_table,
            )

        self.release()  # previous batch's caches/broadcasts (review r7)
        # only track the batch cache if WE created it — releasing a
        # cache the caller persisted for their own use would silently
        # drop it (review r7 second pass)
        lvl = batch.storageLevel
        caller_cached = lvl.useMemory or lvl.useDisk
        batch = batch.persist()
        if not caller_cached:
            self._resources.append(batch)
        within = exact_dedup(batch, [fingerprint(text_col)], [F.col(id_col)])
        idx_fp = spark.read.parquet(self.fp_path).select("fingerprint")
        # broadcast gates are BYTE-estimated per side: fingerprint rows
        # are ~112 B (32-hex md5 + row overhead); band probe rows carry
        # the n_hashes-int signature (~64 + 8*n_hashes B)
        fp_cap = bloom_broadcast_bytes // 112
        band_cap = bloom_broadcast_bytes // (64 + 8 * self.n_hashes)
        if bloom_fpp is not None:

            def _healthy_bloom(path, build_fn):
                """Persisted bloom if available and healthy; an
                over-full stored bloom (fill > 0.6 stops pruning) is
                REBUILT sized to the current index AND written back —
                without the write-back every subsequent batch would
                silently pay the full rebuild scans forever (review
                r7).  A torn table (directory present, unreadable) is
                also rebuilt AND written back — the opt-in already
                happened via write_blooms, so leaving it torn would pay
                the same forever-rebuild cost (ADVICE r7).  Only blooms
                never opted into rebuild without persisting."""
                from covid19i2b2_spark.operators.bloom import (
                    bloom_table_present,
                )

                spec = read_bloom_table(spark, path)
                if spec is not None and fill_ratio(spec) <= 0.6:
                    return spec
                opted_in = spec is not None or bloom_table_present(
                    spark, self.blooms_path
                )
                spec = build_fn()
                if opted_in:
                    write_bloom_table(spark, spec, path)
                return spec

            def _sharded_gate(path, keys_df, key_name):
                """True iff the X50 sharded index at ``path`` should
                gate this batch (round 9, VERDICT r8 #2).  A torn
                sharded table — or one whose appends have OUTGROWN its
                design load (load_ratio > 1.5: fpp degraded well past
                target, the gate would stop pruning; review r9, the
                sharded analog of _healthy_bloom's fill > 0.6 heal) —
                is rebuilt from the current index AND persisted (same
                write-back rationale), with n_shards derived so each
                shard bitmap stays <= 256 MiB — any shard count is
                CORRECT (per-shard params ride the chunk rows); the
                original count is simply not recoverable from a torn
                table, and a rebuild should resize to the live
                population anyway."""
                from covid19i2b2_spark.fsutil import hadoop_fs
                from covid19i2b2_spark.operators.bloom import bloom_params
                from covid19i2b2_spark.operators.bloom_sharded import (
                    build_sharded_bloom,
                    read_sharded_meta,
                    sharded_bloom_health,
                )

                fs, jp = hadoop_fs(spark, path)
                if not fs.exists(jp):
                    return False
                needs_rebuild = read_sharded_meta(spark, path) is None
                if not needs_rebuild:
                    needs_rebuild = (
                        sharded_bloom_health(spark, path)["load_ratio"]
                        > 1.5
                    )
                if needs_rebuild:
                    fs.delete(jp, True)
                    n = keys_df.count()
                    n_bits, _ = bloom_params(max(n, 1), bloom_fpp)
                    n_shards = max(16, -(-(n_bits // 8) // (1 << 28)))
                    build_sharded_bloom(
                        keys_df, key_name, path,
                        n_shards=n_shards, expected_items=n, fpp=bloom_fpp,
                    )
                return True

            if _sharded_gate(self.sharded_fp_path, idx_fp, "fingerprint"):
                from covid19i2b2_spark.operators.bloom_sharded import (
                    sharded_bloom_flags,
                )

                # the narrow cogroup probe: only (hash, shard) pairs
                # enter Python; the flag joins back JVM-side.  Persist
                # the flagged frame — both filters below read it.
                flagged = sharded_bloom_flags(
                    within,
                    fingerprint(text_col),
                    self.sharded_fp_path,
                    flag_col="__mc",
                ).persist()
                self._resources.append(flagged)
                maybe_dup = flagged.filter(F.col("__mc")).drop("__mc")
                definitely_new = flagged.filter(~F.col("__mc")).drop("__mc")
            else:
                fp_bloom = _healthy_bloom(
                    self.bloom_fp_path,
                    lambda: build_bloom(idx_fp, "fingerprint", fpp=bloom_fpp),
                )
                # flag-column + persist, the sharded branch's shape
                # (round 16, guide §4.4 duplicated evaluation): two
                # filter(hit)/filter(~hit) branches each re-ran the
                # exact-dedup window AND the probe UDF over the batch —
                # one flagged frame evaluates both exactly once
                flagged = within.withColumn(
                    "__mc",
                    might_contain(
                        fp_bloom, fingerprint(text_col), self._resources
                    ),
                ).persist()
                self._resources.append(flagged)
                maybe_dup = flagged.filter(F.col("__mc")).drop("__mc")
                definitely_new = flagged.filter(~F.col("__mc")).drop("__mc")
            # maybe_dup is a filter over the persisted flagged frame: its
            # count and the joins below re-read that storage
            if maybe_dup.count() <= fp_cap:
                # confirmed dup fingerprints via a broadcast SEMI join
                # built from the candidates: the index streams map-side,
                # no exchange on either corpus-sized table
                cand_fps = maybe_dup.select(
                    fingerprint(text_col).alias("__cfp")
                ).distinct()
                dup_fps = (
                    idx_fp.join(
                        F.broadcast(cand_fps),
                        idx_fp["fingerprint"] == F.col("__cfp"),
                        "left_semi",
                    )
                    .distinct()
                )
                confirmed_new = maybe_dup.join(
                    F.broadcast(dup_fps),
                    fingerprint(text_col) == F.col("fingerprint"),
                    "left_anti",
                )
            else:
                # candidates too large to broadcast (fpp chosen high or
                # dup-heavy batch): keep the shuffle anti-join, still
                # bloom-pruned to the candidate set
                confirmed_new = maybe_dup.join(
                    idx_fp,
                    fingerprint(text_col) == F.col("fingerprint"),
                    "left_anti",
                )
            fresh = definitely_new.unionByName(confirmed_new).persist()
        else:
            fresh = within.join(
                idx_fp,
                fingerprint(text_col) == F.col("fingerprint"),
                "left_anti",
            ).persist()
        self._resources.append(fresh)

        new_bands = _bands(
            fresh,
            id_col,
            text_col,
            self.n_hashes,
            self.shingle_k,
            self.n_bands,
            self.seed,
            self.signature_impl,
        ).persist()
        self._resources.append(new_bands)
        idx_bands = spark.read.parquet(self.bands_path)
        probe_bands, bands_broadcastable = new_bands, False
        if bloom_fpp is not None:
            # same trick for the near-dup pass: batch band rows whose
            # (band, bucket) hits no index bucket can't produce a
            # vs-index candidate — drop them before the join.  The
            # within-batch pair join below still sees ALL of new_bands.
            band_key = self._band_key()
            if _sharded_gate(
                self.sharded_bands_path,
                idx_bands.select(band_key.alias("__bb")),
                "__bb",
            ):
                from covid19i2b2_spark.operators.bloom_sharded import (
                    sharded_bloom_flags,
                )

                probe_bands = (
                    sharded_bloom_flags(
                        new_bands,
                        band_key,
                        self.sharded_bands_path,
                        flag_col="__mcb",
                    )
                    .filter(F.col("__mcb"))
                    .drop("__mcb")
                    .persist()
                )
            else:
                band_bloom = _healthy_bloom(
                    self.bloom_bands_path,
                    lambda: build_bloom(
                        idx_bands.select(band_key.alias("__bb")),
                        "__bb",
                        fpp=bloom_fpp,
                    ),
                )
                probe_bands = new_bands.filter(
                    might_contain(band_bloom, band_key, self._resources)
                ).persist()
            self._resources.append(probe_bands)
            bands_broadcastable = probe_bands.count() <= band_cap
        agree = F.size(
            F.filter(
                F.zip_with(
                    "signature", "__idx_sig", lambda a, b: (a == b).cast("int")
                ),
                lambda x: x == 1,
            )
        ) / F.size("signature")
        idx_side = idx_bands.select(
            "band", "bucket", F.col("signature").alias("__idx_sig")
        )
        if bands_broadcastable:
            # bloom-pruned probe rows broadcast over the streaming index
            # scan — the corpus-sized bands table never shuffles
            joined_bands = idx_side.join(
                F.broadcast(probe_bands), ["band", "bucket"]
            )
        else:
            joined_bands = probe_bands.join(idx_side, ["band", "bucket"])
        vs_index = (
            joined_bands.filter(agree >= F.lit(sim_threshold))
            .select("doc_id")
            .distinct()
        )
        # within-batch near-dups: self-join the ALREADY-BANDED batch on
        # (band, bucket), signatures carried through the join — no second
        # banding pass over the batch and no id->signature re-fetch joins
        # (lsh_candidate_pairs would re-explode the bands new_bands
        # already holds); keep the lower id of each agreeing pair
        a_side = new_bands.select(
            "band",
            "bucket",
            F.col("doc_id").alias("id_a"),
            F.col("signature").alias("__sa"),
        )
        b_side = new_bands.select(
            "band",
            "bucket",
            F.col("doc_id").alias("id_b"),
            F.col("signature").alias("__sb"),
        )
        pair_agree = (
            a_side.join(b_side, ["band", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(
                F.size(
                    F.filter(
                        F.zip_with("__sa", "__sb", lambda a, b: (a == b).cast("int")),
                        lambda x: x == 1,
                    )
                )
                / F.size("__sa")
                >= F.lit(sim_threshold)
            )
            .select(F.col("id_b").alias("doc_id"))
            .distinct()
        )
        near_ids = vs_index.unionByName(pair_agree).distinct()
        survivors = fresh.join(
            near_ids, fresh[id_col] == near_ids["doc_id"], "left_anti"
        )
        dropped = (
            batch.select(F.col(id_col))
            .join(
                survivors.select(F.col(id_col).alias("__kept")),
                batch[id_col] == F.col("__kept"),
                "left_anti",
            )
            .join(
                fresh.select(F.col(id_col).alias("__fresh")),
                batch[id_col] == F.col("__fresh"),
                "left",
            )
            .select(
                F.col(id_col).alias("doc_id"),
                F.when(F.col("__fresh").isNull(), F.lit("exact_dup"))
                .otherwise(F.lit("near_dup"))
                .alias("reason"),
            )
        )
        return survivors, dropped

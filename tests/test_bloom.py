"""Bloom membership pre-filter (operators/bloom.py, SURVEY §2.11 X46):
no false negatives ever, false-positive rate near the target, identical
results when wired into the incremental dedup path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from covid19i2b2_spark.operators.bloom import (
    BloomSpec,
    bloom_params,
    build_bloom,
    might_contain,
)


def test_bloom_params_math():
    n_bits, n_hashes = bloom_params(1_000_000, 0.01)
    # ~9.585 bits/key and ~7 hashes at 1% (standard optima)
    assert 9_500_000 <= n_bits <= 9_700_000
    assert n_hashes == 7
    assert n_bits % 8 == 0
    with pytest.raises(ValueError):
        bloom_params(100, 1.5)
    # degenerate expected sizes still produce a usable filter
    assert bloom_params(0, 0.01)[0] >= 64


def test_no_false_negatives_and_fpp_band(spark):
    """Every inserted key probes True; non-members probe True at a rate
    within a loose band of the 1% target (50k members, 50k probes)."""
    members = spark.range(50_000).selectExpr("cast(id as string) as k")
    spec = build_bloom(members, "k", fpp=0.01)
    assert spec.n_items == 50_000

    probed = members.withColumn("hit", might_contain(spec, "k"))
    assert probed.filter(~F.col("hit")).count() == 0  # no false negatives

    others = spark.range(50_000, 100_000).selectExpr("cast(id as string) as k")
    fp = others.withColumn("hit", might_contain(spec, "k")).filter("hit").count()
    assert fp / 50_000 < 0.03, fp  # ~1% target, loose band


def test_bloom_deterministic_and_seeded(spark, monkeypatch):
    """Same (keys, seed) -> byte-identical bitmap regardless of
    partitioning; a different seed produces a different bitmap."""
    a = build_bloom(
        spark.range(10_000).selectExpr("cast(id as string) as k"), "k"
    )
    b = build_bloom(
        spark.range(10_000)
        .selectExpr("cast(id as string) as k")
        .repartition(13),
        "k",
    )
    assert a.bits == b.bits and a.n_hashes == b.n_hashes
    # more partitions than the OR fan-in exercises the executor-side
    # OR-reduce (20 partials streamed into 3 reduce tasks) — bits must
    # not depend on the reduction shape
    from covid19i2b2_spark.operators import bloom

    monkeypatch.setattr(bloom, "_OR_FANIN", 3)
    t = build_bloom(
        spark.range(10_000)
        .selectExpr("cast(id as string) as k")
        .repartition(20),
        "k",
    )
    assert t.bits == a.bits
    c = build_bloom(
        spark.range(10_000).selectExpr("cast(id as string) as k"), "k", seed=7
    )
    assert c.bits != a.bits


def test_empty_build_rejects_everything(spark):
    empty = spark.range(0).selectExpr("cast(id as string) as k")
    spec = build_bloom(empty, "k")
    probe = spark.range(100).selectExpr("cast(id as string) as k")
    assert probe.filter(might_contain(spec, "k")).count() == 0


def test_max_bytes_guard(spark):
    df = spark.range(10).selectExpr("cast(id as string) as k")
    with pytest.raises(ValueError, match="max_bytes"):
        build_bloom(df, "k", expected_items=10_000_000_000, max_bytes=1 << 20)


def test_spec_identity_fields():
    s = BloomSpec(bits=b"\x00" * 8, n_hashes=3, seed=42, n_items=5)
    assert s.n_bits == 64


def test_filter_batch_bloom_matches_exact(spark, tmp_path, monkeypatch):
    """The dedup-path integration contract: bloom_fpp on/off produce
    IDENTICAL (survivors, dropped) — the bloom only prunes rows the
    exact joins would reject anyway.  Corpus plants exact dups, near
    dups, and mostly-new rows (the steady-state shape the filter is
    for).  Covers every gate form (VERDICT r8 #2) — per-batch rebuild,
    persisted flat bitmaps, and the X50 sharded index — against ONE
    built index and ONE no-bloom reference (round 16: the former
    3-param form rebuilt the identical index and reference per param,
    tripling the wall inside the driver's pytest window); rebuild mode
    runs first, before any blooms are persisted.  Each mode also
    asserts WHICH gate fired, so a mode cannot quietly fall back to
    another gate and still pass the equality."""
    from covid19i2b2_spark.operators import bloom, bloom_sharded
    from covid19i2b2_spark.operators.dedup_incremental import DedupIndex

    fired: list[str] = []

    def spy(mod, name, tag):
        real = getattr(mod, name)

        def wrapped(*args, **kwargs):
            fired.append(tag)
            return real(*args, **kwargs)

        monkeypatch.setattr(mod, name, wrapped)

    spy(bloom, "build_bloom", "build")
    spy(bloom, "might_contain", "flat")
    spy(bloom_sharded, "sharded_bloom_flags", "sharded")

    base = (
        "the quick brown fox jumps over the lazy dog while the band "
        "plays and the crowd watches the game with great enthusiasm"
    )
    corpus = spark.createDataFrame(
        [(i, f"{base} snapshot document number {i}") for i in range(200)],
        "doc_id long, text string",
    )
    idx = DedupIndex(str(tmp_path / "bloom_idx"))
    idx.build(corpus, "doc_id", "text")

    batch = spark.createDataFrame(
        # 10 exact copies of indexed docs, 5 near-dups, 185 new
        [(1000 + i, f"{base} snapshot document number {i}") for i in range(10)]
        + [
            (
                2000 + i,
                f"{base} snapshot document number {i}".replace(
                    "lazy dog", "sleepy dog"
                ),
            )
            for i in range(5)
        ]
        + [
            (3000 + i, f"entirely different text about topic {i} and more")
            for i in range(185)
        ],
        "doc_id long, text string",
    )
    s0, d0 = idx.filter_batch(spark, batch, "doc_id", "text")
    want_s = {r["doc_id"] for r in s0.collect()}
    want_d = {(r["doc_id"], r["reason"]) for r in d0.collect()}
    for mode in ("rebuild", "flat", "sharded"):
        if mode == "flat":
            idx.write_blooms(spark, fpp=0.01)
        elif mode == "sharded":
            idx.write_blooms(spark, fpp=0.01, sharded=4)
        fired.clear()
        s1, d1 = idx.filter_batch(
            spark, batch, "doc_id", "text", bloom_fpp=0.01
        )
        assert {r["doc_id"] for r in s1.collect()} == want_s, mode
        # fingerprint + band gate per batch: rebuild builds both flat
        # blooms, flat reads the persisted ones, sharded probes shards
        assert sorted(fired) == {
            "rebuild": ["build", "build", "flat", "flat"],
            "flat": ["flat", "flat"],
            "sharded": ["sharded", "sharded"],
        }[mode], (mode, fired)
        got_d = {(r["doc_id"], r["reason"]) for r in d1.collect()}
        assert got_d == want_d, mode
        # the planted exact dups were caught (bloom did not mask them)
        reasons = dict(got_d)
        assert all(reasons[1000 + i] == "exact_dup" for i in range(10))

    # the broadcast-threshold fallback path (candidates too big to
    # broadcast -> bloom-pruned shuffle anti-join) is equal too
    s2, d2 = idx.filter_batch(
        spark, batch, "doc_id", "text", bloom_fpp=0.01,
        bloom_broadcast_bytes=0,
    )
    assert {r["doc_id"] for r in s2.collect()} == want_s
    assert {(r["doc_id"], r["reason"]) for r in d2.collect()} == want_d


def test_bloom_table_roundtrip_and_chunking(spark, tmp_path, monkeypatch):
    """write_bloom_table / read_bloom_table: byte-identical roundtrip,
    multi-chunk reassembly (chunk size shrunk to force it), absent path
    -> None (callers rebuild, never fail)."""
    import covid19i2b2_spark.operators.bloom as B

    spec = build_bloom(
        spark.range(5_000).selectExpr("cast(id as string) as k"), "k"
    )
    monkeypatch.setattr(B, "_BLOOM_CHUNK", 1024)  # force many chunks
    path = str(tmp_path / "bloomtab")
    B.write_bloom_table(spark, spec, path)
    got = B.read_bloom_table(spark, path)
    assert got == spec
    assert len(spec.bits) // 1024 >= 2  # the test really exercised chunking
    assert B.read_bloom_table(spark, str(tmp_path / "nope")) is None


def test_or_into_and_fill_ratio(spark):
    """or_into: supersets the membership under fixed params and is
    idempotent; fill_ratio grows with inserts and sits near the design
    load when n_items matches expected."""
    from covid19i2b2_spark.operators.bloom import fill_ratio, or_into

    first = spark.range(10_000).selectExpr("cast(id as string) as k")
    more = spark.range(10_000, 20_000).selectExpr("cast(id as string) as k")
    spec = build_bloom(first, "k", expected_items=20_000)
    f0 = fill_ratio(spec)
    grown = or_into(spec, more, "k")
    # n_items is audit-only: sizing estimate (20k) + appended rows (10k)
    assert grown.n_items == 30_000
    assert fill_ratio(grown) > f0
    # at design load, fill ~ 50% (the classic bloom operating point)
    assert 0.4 < fill_ratio(grown) < 0.6
    # no false negatives on either half after the OR
    both = first.unionByName(more)
    assert both.filter(~might_contain(grown, "k")).count() == 0
    # idempotent: OR'ing the same keys again changes nothing
    again = or_into(grown, more, "k")
    assert again.bits == grown.bits


def test_persisted_blooms_lifecycle(spark, tmp_path):
    """DedupIndex.write_blooms -> filter_batch loads the stored bitmaps
    (same results as rebuild); append ORs new keys in BEFORE the table
    writes, so a doc ingested in batch N is caught as a dup in batch
    N+1 with the bloom gate on (the no-false-negative-after-append
    property the write ordering exists for)."""
    from covid19i2b2_spark.operators.bloom import read_bloom_table
    from covid19i2b2_spark.operators.dedup_incremental import DedupIndex

    corpus = spark.createDataFrame(
        [(i, f"base corpus document number {i} entirely unique content")
         for i in range(100)],
        "doc_id long, text string",
    )
    idx = DedupIndex(str(tmp_path / "pidx"))
    idx.build(corpus, "doc_id", "text")
    idx.write_blooms(spark, fpp=0.01)
    fp0 = read_bloom_table(spark, idx.bloom_fp_path)
    assert fp0 is not None and fp0.n_items == 100

    # fresh docs need genuinely DISTINCT shingle sets: near-identical
    # templates ("fresh document {i}") are legitimate within-batch
    # near-dups and the engine rightly collapses them to one survivor
    def _fresh(tag: str, i: int) -> str:
        return f"{tag} document {i} " + " ".join(
            f"{tag}token{i}x{j}" for j in range(12)
        )

    batch1 = spark.createDataFrame(
        [(200 + i, _fresh("alpha", i)) for i in range(50)]
        + [(299, "base corpus document number 3 entirely unique content")],
        "doc_id long, text string",
    )
    s1, d1 = idx.filter_batch(spark, batch1, "doc_id", "text", bloom_fpp=0.01)
    kept1 = {r["doc_id"] for r in s1.collect()}
    assert 299 not in kept1  # stored bloom + exact join caught the dup
    assert len(kept1) == 50
    idx.append(s1, "doc_id", "text")

    # blooms were maintained: n_items grew and a batch-1 doc re-submitted
    # in batch 2 is caught (a false NEGATIVE here would let it through)
    fp1 = read_bloom_table(spark, idx.bloom_fp_path)
    assert fp1.n_items == 150
    batch2 = spark.createDataFrame(
        [(400, _fresh("alpha", 7)),  # exact copy of appended doc 207
         (401, "second wave genuinely new document about topic beta")],
        "doc_id long, text string",
    )
    s2, d2 = idx.filter_batch(spark, batch2, "doc_id", "text", bloom_fpp=0.01)
    assert {r["doc_id"] for r in s2.collect()} == {401}
    assert {r["doc_id"]: r["reason"] for r in d2.collect()}[400] == "exact_dup"

    # and the bloom'd path equals the plain path on the same state
    s2p, d2p = idx.filter_batch(spark, batch2, "doc_id", "text")
    assert {r["doc_id"] for r in s2p.collect()} == {401}


def test_prior_results_survive_release(spark, tmp_path):
    """Review r7 second pass: filter_batch call N+1 releases call N's
    caches and bitmap broadcasts — the PREVIOUS call's returned frames
    must still re-evaluate correctly afterwards (broadcasts are
    unpersisted, not destroyed; a destroy left call N's UDF closures
    pointing at a dead broadcast and crashed the recompute).  Also: a
    batch the CALLER persisted must keep its cache across release()."""
    from covid19i2b2_spark.operators.dedup_incremental import DedupIndex

    def _doc(tag, i):
        return f"{tag} doc {i} " + " ".join(f"{tag}w{i}x{j}" for j in range(10))

    corpus = spark.createDataFrame(
        [(i, _doc("base", i)) for i in range(50)], "doc_id long, text string"
    )
    idx = DedupIndex(str(tmp_path / "relidx"))
    idx.build(corpus, "doc_id", "text")

    b1 = spark.createDataFrame(
        [(100 + i, _doc("one", i)) for i in range(10)]
        + [(199, _doc("base", 3))],
        "doc_id long, text string",
    ).persist()  # caller-owned cache
    b2 = spark.createDataFrame(
        [(200 + i, _doc("two", i)) for i in range(10)],
        "doc_id long, text string",
    )
    s1, d1 = idx.filter_batch(spark, b1, "doc_id", "text", bloom_fpp=0.01)
    s2, d2 = idx.filter_batch(spark, b2, "doc_id", "text", bloom_fpp=0.01)
    # the second call released the first call's resources; the first
    # call's results must still evaluate (recompute path) without error
    assert {r["doc_id"] for r in s1.collect()} == {100 + i for i in range(10)}
    assert {r["doc_id"]: r["reason"] for r in d1.collect()} == {
        199: "exact_dup"
    }
    assert {r["doc_id"] for r in s2.collect()} == {200 + i for i in range(10)}
    # caller-owned cache untouched by release()
    assert b1.storageLevel.useMemory or b1.storageLevel.useDisk
    b1.unpersist()
    idx.release()


def test_rebuild_deletes_stale_blooms(spark, tmp_path):
    """Review r7 #1: re-building the index over the same path must
    delete persisted blooms — a stale bloom would answer FALSE
    NEGATIVES for keys only in the new corpus, letting exact dups skip
    the joins and through the gate silently."""
    from covid19i2b2_spark.operators.bloom import read_bloom_table
    from covid19i2b2_spark.operators.dedup_incremental import DedupIndex

    a = spark.createDataFrame(
        [(1, "corpus alpha document with original content here")],
        "doc_id long, text string",
    )
    b = spark.createDataFrame(
        [(2, "corpus beta document with entirely different content")],
        "doc_id long, text string",
    )
    idx = DedupIndex(str(tmp_path / "ridx"))
    idx.build(a, "doc_id", "text")
    idx.write_blooms(spark)
    idx.build(b, "doc_id", "text")  # re-create over the same path
    assert read_bloom_table(spark, idx.bloom_fp_path) is None  # deleted
    dup_of_b = spark.createDataFrame(
        [(9, "corpus beta document with entirely different content")],
        "doc_id long, text string",
    )
    s, d = idx.filter_batch(spark, dup_of_b, "doc_id", "text", bloom_fpp=0.01)
    assert s.count() == 0  # caught; the stale bloom would have missed it
    assert {r["reason"] for r in d.collect()} == {"exact_dup"}


def test_overfull_persisted_bloom_self_heals(spark, tmp_path):
    """Review r7 #5: a persisted bloom past the 0.6-fill health bound
    is rebuilt sized to the CURRENT index and written back, so only the
    first batch after degradation pays the rebuild scans."""
    from covid19i2b2_spark.operators.bloom import (
        fill_ratio,
        read_bloom_table,
    )
    from covid19i2b2_spark.operators.dedup_incremental import DedupIndex

    def _doc(i):
        return f"doc {i} " + " ".join(f"w{i}x{j}" for j in range(10))

    small = spark.createDataFrame(
        [(i, _doc(i)) for i in range(5)], "doc_id long, text string"
    )
    idx = DedupIndex(str(tmp_path / "hidx"))
    idx.build(small, "doc_id", "text")
    idx.write_blooms(spark, fpp=0.5)  # tiny, degrades fast
    # grow the index well past the bloom's design load
    grow = spark.createDataFrame(
        [(100 + i, _doc(100 + i)) for i in range(300)],
        "doc_id long, text string",
    )
    idx.append(grow, "doc_id", "text")
    assert fill_ratio(read_bloom_table(spark, idx.bloom_fp_path)) > 0.6
    probe = spark.createDataFrame(
        [(999, _doc(999))], "doc_id long, text string"
    )
    idx.filter_batch(spark, probe, "doc_id", "text", bloom_fpp=0.01)
    healed = read_bloom_table(spark, idx.bloom_fp_path)
    assert fill_ratio(healed) <= 0.6  # re-sized and written back
    # and the healed bloom still has no false negatives for the corpus
    from covid19i2b2_spark.operators.bloom import might_contain
    from covid19i2b2_spark.operators.text import fingerprint

    allfp = small.unionByName(grow).select(
        fingerprint("text").alias("fingerprint")
    )
    assert allfp.filter(~might_contain(healed, "fingerprint")).count() == 0


def test_filter_batch_bloom_plan_broadcasts_over_index(spark, tmp_path):
    """100 TB plan pin: with the bloom gate on and candidates under the
    broadcast threshold, BOTH vs-index checks run as BroadcastHashJoins
    streamed over the index scans — the corpus-sized fingerprint and
    bands tables never enter an exchange.  (The plain path sort-merges
    both sides; this plan is the reason the gate exists.)"""
    from covid19i2b2_spark.operators.dedup_incremental import DedupIndex

    corpus = spark.createDataFrame(
        [(i, f"indexed snapshot document number {i} with unique text")
         for i in range(100)],
        "doc_id long, text string",
    )
    idx = DedupIndex(str(tmp_path / "plan_idx"))
    idx.build(corpus, "doc_id", "text")
    batch = spark.createDataFrame(
        [(500 + i, f"fresh batch document {i} about something else")
         for i in range(50)]
        + [(900, "indexed snapshot document number 7 with unique text")],
        "doc_id long, text string",
    )
    survivors, _ = idx.filter_batch(
        spark, batch, "doc_id", "text", bloom_fpp=0.01
    )
    from covid19i2b2_spark.plans.explain import physical_plan

    plan = physical_plan(survivors)
    assert "BroadcastHashJoin" in plan, plan
    # no sort-merge anti-join against the fingerprint index remains
    assert "SortMergeJoin LeftAnti" not in plan, plan


def test_torn_bloom_never_goes_stale(spark, tmp_path):
    """ADVICE r8: a PRESENT-but-unreadable bloom table (torn write /
    transient FS failure) must never outlive a skipped maintenance
    step.  append() deletes the torn table instead of silently
    appending rows the bloom would then be stale for, and the next
    bloom-gated filter_batch self-heals: rebuilds from the current
    index AND persists (the write_blooms opt-in survives via the
    blooms parent dir), with zero false negatives for rows appended
    during the torn window."""
    import pathlib
    import shutil

    from covid19i2b2_spark.operators.bloom import (
        bloom_table_present,
        fill_ratio,
        might_contain,
        read_bloom_table,
    )
    from covid19i2b2_spark.operators.dedup_incremental import DedupIndex
    from covid19i2b2_spark.operators.text import fingerprint

    def _doc(tag, i):
        return f"{tag} doc {i} " + " ".join(f"{tag}w{i}x{j}" for j in range(10))

    corpus = spark.createDataFrame(
        [(i, _doc("base", i)) for i in range(40)], "doc_id long, text string"
    )
    idx = DedupIndex(str(tmp_path / "tornidx"))
    idx.build(corpus, "doc_id", "text")
    idx.write_blooms(spark, fpp=0.01)

    # tear BOTH bloom tables: directory present, contents unreadable
    for p in (idx.bloom_fp_path, idx.bloom_bands_path):
        d = pathlib.Path(p)
        shutil.rmtree(d)
        d.mkdir()
        (d / "part-00000.parquet").write_text("not a parquet file")
        assert read_bloom_table(spark, p) is None  # unreadable
        assert bloom_table_present(spark, p)  # ...but present

    # append during the torn window: maintenance can't OR into the torn
    # blooms, so they must be DELETED (skipping would leave them stale)
    batch_a = spark.createDataFrame(
        [(100 + i, _doc("alpha", i)) for i in range(20)],
        "doc_id long, text string",
    )
    idx.append(batch_a, "doc_id", "text")
    assert not bloom_table_present(spark, idx.bloom_fp_path)
    assert not bloom_table_present(spark, idx.bloom_bands_path)
    assert bloom_table_present(spark, idx.blooms_path)  # opt-in survives

    # next gated batch: dups of BOTH the original corpus and the
    # torn-window append must be caught — a stale bloom would have
    # answered false negatives for batch_a's keys
    probe = spark.createDataFrame(
        [(900, _doc("alpha", 3)), (901, _doc("base", 5)),
         (902, _doc("gamma", 0))],
        "doc_id long, text string",
    )
    s, d = idx.filter_batch(spark, probe, "doc_id", "text", bloom_fpp=0.01)
    assert {r["doc_id"] for r in s.collect()} == {902}
    assert {r["doc_id"]: r["reason"] for r in d.collect()} == {
        900: "exact_dup", 901: "exact_dup"
    }

    # and the blooms self-healed: rebuilt from the current index AND
    # persisted (torn tables otherwise cost a full rebuild per batch
    # forever), with no false negatives over everything indexed so far
    healed = read_bloom_table(spark, idx.bloom_fp_path)
    assert healed is not None and fill_ratio(healed) <= 0.6
    allfp = corpus.unionByName(batch_a).select(
        fingerprint("text").alias("fingerprint")
    )
    assert allfp.filter(~might_contain(healed, "fingerprint")).count() == 0
    assert read_bloom_table(spark, idx.bloom_bands_path) is not None


def test_sharded_blooms_lifecycle(spark, tmp_path):
    """VERDICT r8 #2: write_blooms(sharded=n) + filter_batch + append
    over the X50 sharded index — same no-false-negative-after-append
    ordering as the flat path, plus the mode-switch deletions and the
    torn-table self-heal (rebuild AND persist)."""
    from covid19i2b2_spark.fsutil import hadoop_fs
    from covid19i2b2_spark.operators.bloom import read_bloom_table
    from covid19i2b2_spark.operators.bloom_sharded import read_sharded_meta
    from covid19i2b2_spark.operators.dedup_incremental import DedupIndex

    def _fresh(tag: str, i: int) -> str:
        return f"{tag} document {i} " + " ".join(
            f"{tag}token{i}x{j}" for j in range(12)
        )

    corpus = spark.createDataFrame(
        [(i, _fresh("seed", i)) for i in range(100)],
        "doc_id long, text string",
    )
    idx = DedupIndex(str(tmp_path / "shidx"))
    idx.build(corpus, "doc_id", "text")
    idx.write_blooms(spark, fpp=0.01, sharded=4)
    meta0 = read_sharded_meta(spark, idx.sharded_fp_path)
    assert meta0 is not None and meta0.n_shards == 4
    assert read_bloom_table(spark, idx.bloom_fp_path) is None  # no flat

    batch1 = spark.createDataFrame(
        [(200 + i, _fresh("alpha", i)) for i in range(50)]
        + [(299, _fresh("seed", 3))],  # exact dup of an indexed doc
        "doc_id long, text string",
    )
    s1, d1 = idx.filter_batch(spark, batch1, "doc_id", "text", bloom_fpp=0.01)
    kept1 = {r["doc_id"] for r in s1.collect()}
    assert 299 not in kept1 and len(kept1) == 50
    idx.append(s1, "doc_id", "text")

    # append maintained the sharded blooms: a batch-1 doc re-submitted
    # in batch 2 is caught (a false NEGATIVE would let it through), and
    # the live item count grew
    m1 = read_sharded_meta(spark, idx.sharded_fp_path, with_items=True)
    assert m1.n_items == 150
    batch2 = spark.createDataFrame(
        [(400, _fresh("alpha", 7)),  # exact copy of appended doc 207
         (401, _fresh("beta", 1))],
        "doc_id long, text string",
    )
    s2, d2 = idx.filter_batch(spark, batch2, "doc_id", "text", bloom_fpp=0.01)
    assert {r["doc_id"] for r in s2.collect()} == {401}
    assert {r["doc_id"]: r["reason"] for r in d2.collect()}[400] == "exact_dup"
    # equal to the plain (no-bloom) path on the same state
    s2p, _ = idx.filter_batch(spark, batch2, "doc_id", "text")
    assert {r["doc_id"] for r in s2p.collect()} == {401}

    # torn sharded table: filter_batch self-heals (rebuild + persist)
    import os
    import shutil

    for entry in os.listdir(idx.sharded_fp_path):
        full = os.path.join(idx.sharded_fp_path, entry)
        shutil.rmtree(full) if os.path.isdir(full) else os.remove(full)
    assert read_sharded_meta(spark, idx.sharded_fp_path) is None
    spark.catalog.clearCache()
    s3, _ = idx.filter_batch(spark, batch2, "doc_id", "text", bloom_fpp=0.01)
    assert {r["doc_id"] for r in s3.collect()} == {401}
    healed = read_sharded_meta(spark, idx.sharded_fp_path)
    assert healed is not None  # rebuilt AND persisted

    # mode switch back to flat deletes the sharded tables
    idx.write_blooms(spark, fpp=0.01)
    fs, jp = hadoop_fs(spark, idx.sharded_fp_path)
    assert not fs.exists(jp)
    assert read_bloom_table(spark, idx.bloom_fp_path) is not None
    idx.release()


def test_sharded_gate_over_fill_self_heals(spark, tmp_path):
    """Review r9: appends that outgrow the sharded blooms' design load
    (load_ratio > 1.5 — fpp degraded toward 1, the gate stops pruning)
    must trigger a rebuild sized to the live index AND persist it —
    the sharded analog of the flat path's fill > 0.6 heal."""
    from covid19i2b2_spark.operators.bloom_sharded import (
        read_sharded_meta,
        sharded_bloom_health,
    )
    from covid19i2b2_spark.operators.dedup_incremental import DedupIndex

    def _fresh(tag: str, i: int) -> str:
        return f"{tag} document {i} " + " ".join(
            f"{tag}token{i}x{j}" for j in range(12)
        )

    corpus = spark.createDataFrame(
        [(i, _fresh("seed", i)) for i in range(60)],
        "doc_id long, text string",
    )
    idx = DedupIndex(str(tmp_path / "ofidx"))
    idx.build(corpus, "doc_id", "text")
    idx.write_blooms(spark, fpp=0.01, sharded=4)
    m0 = read_sharded_meta(spark, idx.sharded_fp_path)
    total_bits0 = m0.n_bits * m0.n_shards
    # three direct appends quadruple the population vs the design load
    for w, tag in enumerate(["alpha", "beta", "gamma"]):
        idx.append(
            spark.createDataFrame(
                [(1000 * (w + 1) + i, _fresh(tag, i)) for i in range(60)],
                "doc_id long, text string",
            ),
            "doc_id",
            "text",
        )
    pre_ratio = sharded_bloom_health(spark, idx.sharded_fp_path)[
        "load_ratio"
    ]
    assert pre_ratio > 1.5
    batch = spark.createDataFrame(
        [(9000, _fresh("delta", 0)),
         (9001, _fresh("seed", 3))],  # dup of an indexed doc
        "doc_id long, text string",
    )
    s, d = idx.filter_batch(spark, batch, "doc_id", "text", bloom_fpp=0.01)
    assert {r["doc_id"] for r in s.collect()} == {9000}
    # the gate rebuilt + persisted, sized to the live 240-key index
    # (n_bits is PER SHARD — compare total capacity across the reshard;
    # post-rebuild load_ratio is design ~1 plus small-sample shard skew
    # at 240 keys, so assert the DROP rather than an absolute bound)
    healed = read_sharded_meta(spark, idx.sharded_fp_path)
    assert healed.n_items == 240
    assert healed.n_bits * healed.n_shards > total_bits0
    assert sharded_bloom_health(spark, idx.sharded_fp_path)[
        "load_ratio"
    ] < pre_ratio / 2
    idx.release()

"""Near-dup pair graph -> dedup decision (SURVEY §2.11 X2 completion).

The pair finders (MinHash/SimHash/embedding-LSH) emit edges; a corpus
dedup needs the CLOSURE of those edges — A~B and B~C must collapse to one
survivor even when A~C was never emitted.  This module turns the edge
list into connected components and a deterministic keep/drop decision:

- ``connected_components``: the alternating large-star/small-star
  algorithm (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii,
  "Connected Components in MapReduce and Beyond", SoCC 2014).  It
  converges in O(log n) rounds on any topology, where min-label
  propagation needs one round per hop of graph diameter — near-dup
  graphs contain edit chains of dozens of hops, web alias graphs
  longer ones.  Each round is ONE Spark action (the round's eager
  localCheckpoint, which also carries the convergence signature), and
  a graph that does not converge inside ``MAX_ROUNDS`` raises rather
  than returning a partial merge.  Component = min reachable id.
- ``dedup_decision``: component id + keep flag (survivor = min id in the
  component — same deterministic-survivor rule as exact_dedup).

At 100 TB the edge list is vastly smaller than the corpus (only near-dup
candidates appear); the per-round shuffle is edge-bounded, and the final
decision joins back to the corpus on the id — a broadcast when the dup
set is small, an equi-join otherwise (left to AQE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window, functions as F

# Round cap.  Observed rounds grow ~log2(n) (a 300-edge path takes ~10);
# 64 rounds is past any real graph, so hitting it flags a bug.
MAX_ROUNDS = 64


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    cache_handles: list | None = None,
    plan_probe: dict | None = None,
) -> DataFrame:
    """(node, component) for every node appearing in the edge list;
    component = min node id reachable through the edges.  Ids may be
    any orderable type (longs, URL strings).

    One round = large-star then small-star over the (hi, lo) edge set:

    - large-star: each node u takes m = min(u, neighbors); every
      neighbor above u relinks to m.
    - small-star: each hi takes m = min of its lo's; hi and its lo's
      relink to m.

    Each step's minimum is a window partitioned on the key, so a round
    is two keyed exchanges plus the edge dedup, with no join.  The
    round's output is pinned by an eager localCheckpoint (the round's
    only Spark action) with an Observation attached that reads the
    (row count, bit_xor of xxhash64) set signature from the same pass;
    the loop stops when a round reproduces the previous round's
    signature, and raises ``RuntimeError`` after ``MAX_ROUNDS``.

    Skew trade-off: a window partition holds a star root's whole
    neighborhood, i.e. the whole component once the stars form.  It
    spills and stays correct, but runs in one task, where a groupBy min
    would get map-side partial aggregation.  Near-dup components are
    small by construction (``dedup_cluster_stats`` alarms otherwise),
    so the saved join and job per step is the better side here.

    Checkpoint lifecycle: each superseded round is released in-loop
    once the next one is materialized; only the label frame outlives
    the call — with ``cache_handles`` its CheckpointHandle is appended
    for the caller to release after materializing downstream.

    ``plan_probe``: receives ``n_rounds`` and the first round's
    physical plan (``round_plan``)."""
    from covid19i2b2_spark.caching import (
        CheckpointHandle,
        release_local_checkpoint,
    )

    # the input is read ONCE; self-loops stay in it so a node whose only
    # edge is to itself still gets a label
    raw = pairs.select(
        F.greatest(id_a, id_b).alias("hi"), F.least(id_a, id_b).alias("lo")
    ).localCheckpoint(eager=True)
    edges = raw.filter(F.col("hi") != F.col("lo"))
    prev_sig: tuple | None = None
    for rounds in range(1, MAX_ROUNDS + 1):
        # --- large-star: key = every endpoint, full neighborhood ----
        bi = edges.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        bi = bi.unionByName(
            bi.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = F.least("u", F.min("v").over(Window.partitionBy("u")))
        large = (
            bi.withColumn("__m", m)
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), F.col("__m").alias("lo"))
        )
        # --- small-star over the large output (hi > lo) -------------
        # both emissions — (lo, m) and (hi, m) — via one array explode
        small = (
            large.withColumn(
                "__m", F.min("lo").over(Window.partitionBy("hi"))
            )
            .select(
                F.explode(F.array("lo", "hi")).alias("hi"),
                F.col("__m").alias("lo"),
            )
            .filter(F.col("hi") != F.col("lo"))
            .dropDuplicates()
        )
        if plan_probe is not None and rounds == 1:
            # before the checkpoint replaces the plan with an RDD scan
            plan_probe["round_plan"] = (
                small._jdf.queryExecution().executedPlan().toString()
            )
        # bit_xor: order-insensitive and overflow-free under ANSI (a SUM
        # of xxhash64 values overflows long); rows are distinct, so xor
        # is a faithful set signature
        obs = Observation()
        small = small.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.bit_xor(F.xxhash64("hi", "lo")), F.lit(0)
            ).alias("h"),
        ).localCheckpoint(eager=True)
        if rounds > 1:
            release_local_checkpoint(edges)
        edges = small
        sig = (obs.get["n"], obs.get["h"])
        if sig == prev_sig or sig[0] == 0:
            break
        prev_sig = sig
    else:
        release_local_checkpoint(raw)
        release_local_checkpoint(edges)
        raise RuntimeError(
            f"connected_components: no convergence in {MAX_ROUNDS} rounds "
            "(edge signature still moving)"
        )
    if plan_probe is not None:
        plan_probe["n_rounds"] = rounds
    # converged: a star per component, hi -> its root; roots and
    # self-loop-only nodes label themselves
    labels = (
        edges.select(F.col("hi").alias("node"), F.col("lo").alias("c"))
        .unionByName(
            edges.select(F.col("lo").alias("node"), F.col("lo").alias("c"))
        )
        .unionByName(
            raw.filter(F.col("hi") == F.col("lo"))
            .select(F.col("hi").alias("node"), F.col("hi").alias("c"))
        )
        .groupBy("node")
        .agg(F.min("c").alias("component"))
        .localCheckpoint(eager=True)
    )
    release_local_checkpoint(raw)
    release_local_checkpoint(edges)
    if cache_handles is not None:
        cache_handles.append(CheckpointHandle(labels))
    return labels


def dedup_decision(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
    cache_handles: list | None = None,
) -> DataFrame:
    """Corpus + near-dup edges -> (id, component, keep).  Nodes outside
    any edge keep themselves (their own component); inside a component the
    min id survives — deterministic under retries and across runs.
    ``cache_handles`` receives the component frame's CheckpointHandle
    (see connected_components)."""
    comp = connected_components(
        pairs, id_a, id_b, cache_handles=cache_handles
    ).withColumnRenamed("node", id_col)
    return df.join(comp, id_col, "left").select(
        id_col,
        F.coalesce("component", F.col(id_col)).alias("component"),
        (
            F.col("component").isNull() | (F.col(id_col) == F.col("component"))
        ).alias("keep"),
    )


def dedup_cluster_stats(decision: DataFrame) -> DataFrame:
    """Audit summary of a :func:`dedup_decision` frame — the numbers a
    curation run should log before anyone trusts its output.  Schema:
    (size, n_components, n_kept, n_dropped) — one row per component
    SIZE, plus a size=NULL grand-total row; the corpus dedup rate is
    grand.n_dropped / (grand.n_kept + grand.n_dropped).

    Shape: two aggregates over the (already edge-bounded) decision
    frame — nothing touches the corpus.  A healthy near-dup graph shows
    overwhelmingly size-2/3 components; a heavy tail of large
    components is the LSH-blowup smell worth alarming on."""
    per_comp = decision.groupBy("component").agg(
        F.count("*").alias("sz"),
        F.sum(F.col("keep").cast("long")).alias("kept"),
    )
    by_size = per_comp.groupBy(F.col("sz").alias("size")).agg(
        F.count("*").cast("long").alias("n_components"),
        F.sum("kept").cast("long").alias("n_kept"),
        F.sum(F.col("sz") - F.col("kept")).cast("long").alias("n_dropped"),
    )
    # grand total derives from the per-size rows — no extra pass
    grand = by_size.agg(
        F.lit(None).cast("long").alias("size"),
        F.sum("n_components").cast("long").alias("n_components"),
        F.sum("n_kept").cast("long").alias("n_kept"),
        F.sum("n_dropped").cast("long").alias("n_dropped"),
    )
    return by_size.unionByName(grand).orderBy(F.col("size").asc_nulls_last())


def dedup_decision_by(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    order_col: str,
    descending: bool = True,
    id_a: str = "id_a",
    id_b: str = "id_b",
    cache_handles: list | None = None,
) -> DataFrame:
    """:func:`dedup_decision` with a QUALITY-AWARE survivor: within
    each component the row with the best ``order_col`` wins (max when
    ``descending``, else min), ties break to the LOWEST id so the
    choice stays deterministic under retries (the house survivor
    discipline).  This is what a curation pipeline actually wants —
    keep the longest / highest-quality-score duplicate, not whichever
    copy happened to get the smallest id (Lee et al. 2022 keep the
    longest member of each duplicate cluster for exactly this reason).

    Shape: the component labels come from the same edge-bounded
    :func:`connected_components`; the survivor pick is ONE window over the
    decision frame partitioned by component — components are tiny by
    construction (the cluster-size audit alarms otherwise), so the
    window never concentrates meaningful data in one task.  A NULL
    ``order_col`` sorts worst (NULL quality never beats a scored row).
    Output: (id, component, keep) — drop-in for dedup_decision."""
    from pyspark.sql.window import Window

    comp = connected_components(
        pairs, id_a, id_b, cache_handles=cache_handles
    ).withColumnRenamed("node", id_col)
    labeled = df.join(comp, id_col, "left").select(
        F.col(id_col),
        F.coalesce("component", F.col(id_col)).alias("component"),
        F.col(order_col).alias("__q"),
    )
    order = (
        F.col("__q").desc_nulls_last()
        if descending
        else F.col("__q").asc_nulls_last()
    )
    w = Window.partitionBy("component").orderBy(order, F.col(id_col))
    return (
        labeled.withColumn("__rn", F.row_number().over(w))
        .select(
            id_col,
            "component",
            (F.col("__rn") == 1).alias("keep"),
        )
    )


def survivor_provenance(
    df: DataFrame,
    decision: DataFrame,
    id_col: str,
    collect_cols: list[str] | None = None,
    range_col: str | None = None,
) -> DataFrame:
    """X63 (round 11): per-component provenance rollup — what dedup
    must NOT silently discard.  Collapsing a near-dup cluster to one
    survivor is a data decision; licensing, takedown, and attribution
    are corpus-level obligations that attach to EVERY member, so the
    survivor needs the union of its cluster's provenance, not just its
    own row (the reason curation pipelines carry a "merged sources"
    column next to the kept text).

    Inputs: the corpus frame and a ``dedup_decision[_by]`` frame
    (id, component, keep).  Output: one row per component —

    - ``survivor_<id_col>``: the keep row's id;
    - ``n_members``: cluster size;
    - for each name in ``collect_cols``: ``<name>_set``, the sorted
      distinct values across ALL members (array — deterministic order,
      so downstream hashes/joins are stable);
    - for ``range_col``: ``first_<name>`` / ``last_<name>`` (min/max)
      — crawl-date spans, version ranges.

    Shape: one id-keyed join + one component-keyed aggregate.  The
    collected sets are cluster-bounded: near-dup components are tiny
    by construction (the cluster-size audit alarms otherwise), so no
    array grows past a cluster's distinct values."""
    joined = df.join(
        decision.select(id_col, "component", "keep"), id_col
    )
    aggs = [
        F.min(F.when(F.col("keep"), F.col(id_col))).alias(
            f"survivor_{id_col}"
        ),
        F.count("*").cast("long").alias("n_members"),
    ]
    for c in collect_cols or []:
        aggs.append(
            F.array_sort(F.array_distinct(F.collect_list(c))).alias(
                f"{c}_set"
            )
        )
    if range_col is not None:
        aggs.append(F.min(range_col).alias(f"first_{range_col}"))
        aggs.append(F.max(range_col).alias(f"last_{range_col}"))
    return joined.groupBy("component").agg(*aggs)

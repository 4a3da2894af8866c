"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload covid_export --seed 1 --seconds 10 --trace 0

Run from the repository root (any checkout of it).  The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (name -> value and unit).  ``--trace 0`` reports the
end-to-end metrics from untraced passes; ``--trace 1`` reports the
per-layer metrics from a traced pass and a staged pass, plus the tracing
overhead.  The lines before it are a readable report: the measured shares
of the generated inputs, every metric with its unit, and in trace mode the
self time of each span.  See perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The end-to-end metrics of BENCHMARK.json.  op_p50_s, op_tail_s and
# failed_ops_frac are printed in the report but not gated: one run holds
# too few operations (1-2 exports, 3 epochs) for a steady percentile, and
# a correct run fails none.
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "peak_rss_mb": "MB",
    "store_bytes_per_input_byte": "ratio",
}

_COVID_ARTIFACTS = (
    "DailyCounts", "ClinicalCourse", "Demographics", "Labs", "Diagnoses", "Medications",
)
PER_LAYER = {
    "session.start_s": "s",
    "setup.generate_s": "s",
    "setup.warmup_s": "s",
    "trace.overhead_s": "s",
    "queries.build_s": "s",
    "queries.action_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_gap_s": "s",
    "spark.input_bytes": "B",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "sql.exchanges": "count",
    "sql.broadcast_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.gc_s": "s",
    "pipelines.covid.cohort_s": "s",
    **{f"pipelines.covid.{a}_s": "s" for a in _COVID_ARTIFACTS},
    "sources.sinks.write_csv_s": "s",
    "python.udf_rows": "count",
    "python.bytes_to_workers": "B",
    "python.bytes_from_workers": "B",
    "pipelines.curation.call_s": "s",
    "pipelines.curation.action_s": "s",
    "operators.dedup.line_dedup_s": "s",
    "operators.dedup.exact_dedup_s": "s",
    "operators.dedup.minhash_dedup_pairs_s": "s",
    "operators.dedup_clusters.dedup_decision_s": "s",
    "operators.contamination.report_s": "s",
    "operators.sampling.pack_sequences_s": "s",
    "sources.sinks.write_training_shards_s": "s",
    "operators.dedup_clusters.rounds": "count",
    "operators.dedup_clusters.residual_families": "count",
    "operators.dedup_incremental.build_s": "s",
    "operators.dedup_incremental.filter_batch_s": "s",
    "operators.dedup_incremental.append_s": "s",
    "operators.dedup_incremental.compact_s": "s",
    "operators.dedup_incremental.dup_frac": "ratio",
    "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s",
    "store.bytes_on_disk": "B",
    "store.files": "count",
    "store.versions_held": "count",
    "store.bytes_rewritten_by_compact": "B",
    "caching.persisted_rdds_left": "count",
    "caching.storage_mem_bytes_max": "B",
}


WORKLOADS = ("covid_export", "curation_stream")


class Result:
    def __init__(self):
        self.report: list[str] = []
        self.errors: list[str] = []
        self.metrics: dict[str, tuple[float, str]] = {}
        self.attempted = 0
        self.failed = 0

    def line(self, text: str) -> None:
        self.report.append(text)

    def json(self) -> dict:
        return {
            "correct": self.failed == 0 and not self.errors,
            "attempted": max(self.attempted, 1),
            "failed": self.failed if self.attempted else 1,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in self.metrics.items()},
        }


def _check_pass(wl, out: str, res: Result, final: bool) -> None:
    n, bad, msgs = wl.check(out)
    if final:
        extra = wl.final_check(out)
        msgs = msgs + extra
        bad = max(bad, int(bool(extra)))
    res.attempted += n
    res.failed += bad
    res.errors += [f"{os.path.basename(out)}: {m}" for m in msgs]


def run(workload: str, seed: int, seconds: float, trace: bool, scale: float = 1.0) -> Result:
    """Set up, measure and check one workload in this process."""
    from perfbench import harness
    from perfbench.workloads import WORKLOADS, Context

    tag = f"{workload}-seed{seed}-trace{int(trace)}"
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    res = Result()
    rss = harness.RssSampler().start()
    t0 = time.perf_counter()
    spark = harness.start_session(work)
    session_s = time.perf_counter() - t0
    ctx = None
    try:
        tracer = harness.Tracer(spark, tag, enabled=trace)
        ctx = Context(spark, seed, scale, work, tracer)
        wl = WORKLOADS[workload](ctx)
        with tracer.paused():  # set-up is not part of any traced pass
            t = time.perf_counter()
            wl.generate()
            gen_s = time.perf_counter() - t
            t = time.perf_counter()
            wl.warmup()
            warm_s = time.perf_counter() - t
        res.line(f"workload {workload} seed {seed} cpus {harness.cpu_count()} "
                 f"scale {scale} trace {int(trace)}")
        res.line(f"setup session_s {session_s:.3f} generate_s {gen_s:.3f} "
                 f"warmup_s {warm_s:.3f}")
        setup = {"session.start_s": session_s, "setup.generate_s": gen_s,
                 "setup.warmup_s": warm_s}
        if trace:
            _traced(wl, ctx, res, setup)
        else:
            _untraced(wl, ctx, res, seconds, sum(setup.values()), rss)
    finally:
        rss.stop()
        if ctx is not None:
            ctx.close()
        harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    for e in res.errors:
        res.line(f"CHECK FAILED {e}")
    res.line(f"elapsed_s {time.perf_counter() - t0:.1f} (session {session_s:.1f})")
    return res


def _untraced(wl, ctx, res: Result, seconds: float, setup_s: float, rss) -> None:
    from perfbench import harness

    walls: list[float] = []
    ops: list[float] = []
    outs: list[str] = []
    start = time.perf_counter()
    while not outs or time.perf_counter() - start < seconds:
        if outs:
            wl.release()
        out = os.path.join(ctx.work, f"pass{len(outs)}")
        outs.append(out)
        try:
            wall, lat = wl.run_pass(out)
        except Exception:
            res.attempted += 1
            res.failed += 1
            res.errors.append(traceback.format_exc(limit=3))
            break
        walls.append(wall)
        ops += lat
    peak_mb = rss.stop()
    if not walls:
        return
    stored = wl.stored_bytes(outs[len(walls) - 1]) / wl.input_bytes()
    res.line("inputs " + json.dumps(wl.measure_inputs(), sort_keys=True, default=str))
    for i in range(len(walls)):
        _check_pass(wl, outs[i], res, final=i == len(walls) - 1)
    wl.release()
    tail, pct, n = harness.tail(ops)
    values = {
        "setup_s": setup_s,
        "wall_s": statistics.median(walls),
        "peak_rss_mb": peak_mb,
        "store_bytes_per_input_byte": stored,
    }
    res.metrics = {k: (v, END_TO_END[k]) for k, v in values.items()}
    for k, (v, u) in res.metrics.items():
        res.line(f"metric {k} {v:.6g} {u}")
    res.line(f"metric op_p50_s {statistics.median(ops):.6g} s  ({n} ops)")
    res.line(f"metric op_tail_s {tail:.6g} s  (p{pct:.1f} of {n} ops)")
    frac = res.failed / max(res.attempted, 1)
    res.line(f"metric failed_ops_frac {frac:.6g} ratio  ({res.failed}/{res.attempted})")
    res.line(f"passes {len(walls)} wall_s each {[round(w, 3) for w in walls]}")


def _traced(wl, ctx, res: Result, setup: dict[str, float]) -> None:
    """Untraced, traced and untraced passes after the warm-up: the
    per-layer counters come from the traced one, and the traced wall time
    minus the mean of its untraced neighbours is the tracing overhead.
    Then the staged pass splits the same work by public call."""
    from perfbench.harness import COUNTERS

    tr = ctx.tracer
    out = {k: os.path.join(ctx.work, k) for k in ("untraced", "traced", "untraced2", "staged")}
    with tr.paused():
        walls_u = [wl.run_pass(out["untraced"])[0]]
        wl.release()
    with tr.span("pass", counters=True) as rec:
        wl.traced_pass(out["traced"])
    wl.release()
    rec["persisted_rdds_left"] = tr.persisted_rdds()
    with tr.paused():
        walls_u.append(wl.run_pass(out["untraced2"])[0])
        wl.release()
    wl.staged_pass(out["staged"])
    wl.release()
    wall_u = statistics.median(walls_u)
    wall_t = rec["end"] - rec["start"]
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update({k: rec[k] for k in COUNTERS})
    m.update(wl.layer_metrics(out["traced"]))
    m.update(setup)
    m["trace.overhead_s"] = wall_t - wall_u
    m["caching.persisted_rdds_left"] = rec["persisted_rdds_left"]
    m["caching.storage_mem_bytes_max"] = tr.storage_mem_max
    for name in ("traced", "untraced"):
        _check_pass(wl, out[name], res, final=False)
    res.errors += wl.compare_staged(out["traced"], out["staged"])
    res.metrics = {k: (float(v), PER_LAYER[k]) for k, v in m.items()}
    res.line(f"traced wall_s {wall_t:.4f} untraced wall_s {wall_u:.4f}")
    selfs = tr.self_times()
    agg: dict[str, list[float]] = {}
    for s in tr.spans:
        a = agg.setdefault(s["name"], [0, 0.0, 0.0])
        a[0] += 1
        a[1] += s["end"] - s["start"]
        a[2] += selfs[s["id"]]
    res.line("span  count  total_s  self_s")
    for name, (n, total, own) in agg.items():
        res.line(f"span {name} {n} {total:.4f} {own:.4f}")
    for k, (v, u) in res.metrics.items():
        res.line(f"metric {k} {v:.6g} {u}")
    spans = os.path.join(ROOT, ".perfbench_work", "spans", f"{tr.run_id}.jsonl")
    tr.write(spans)
    res.line(f"spans written to {os.path.relpath(spans, ROOT)}")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (the self-tests use a small one)")
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "covid19i2b2_spark", "__init__.py")):
        print("perfbench: no covid19i2b2_spark package next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    # Python workers import the package too: put the checkout on their path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    sys.dont_write_bytecode = True
    sys.path.insert(0, ROOT)
    res = run(args.workload, args.seed, args.seconds, bool(args.trace), args.scale)
    for line in res.report:
        print(line)
    print(json.dumps(res.json()), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

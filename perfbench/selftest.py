"""Self-tests of the benchmark itself (not part of the package's suite).

    python3 perfbench/selftest.py            # both parts, ~10 minutes on 4 cores
    python3 perfbench/selftest.py smoke
    python3 perfbench/selftest.py damage

smoke:  every workload at a tenth of its input size, untraced and traced,
        through the real command line.  Every metric BENCHMARK.json names
        must be printed with its unit, and every output check must pass.
damage: a small pass of each workload is checked clean, then damaged (one
        CSV value changed, one artifact removed, a duplicate put back
        into the training shards, one committed epoch removed); each
        damage must make the check fail.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = 0.1


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def smoke() -> None:
    from perfbench import run

    bench = _bench()
    names = [w["name"] for w in bench["workloads"]]
    assert names == list(run.WORKLOADS), (names, run.WORKLOADS)
    want = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    for workload in names:
        for trace in (0, 1):
            cmd = [sys.executable, *bench["command"][1:], "--workload", workload,
                   "--seed", "7", "--seconds", str(bench["run_seconds"]),
                   "--trace", str(trace), "--scale", str(SCALE)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = p.stdout.strip().splitlines()
            assert p.returncode == 0 and lines, (workload, trace, p.stderr[-2000:])
            res = json.loads(lines[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, lines
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want[trace], (workload, trace, set(got) ^ set(want[trace]))
            for k, v in res["metrics"].items():
                assert isinstance(v["value"], float), (k, v)
            for k, unit in want[trace].items():
                assert any(l.startswith(f"metric {k} ") and l.split()[3] == unit
                           for l in lines), (workload, k)
            if trace == 0:
                for k in ("failed_ops_frac", "op_p50_s", "op_tail_s"):
                    assert any(l.startswith(f"metric {k} ") for l in lines), k
            print(f"smoke {workload} trace {trace}: ok "
                  f"({res['attempted']} ops, {len(got)} metrics)", flush=True)


def _expect(kind: str, check, damaged: bool) -> None:
    n, bad, msgs = check()
    if damaged:
        assert bad >= 1 and msgs, f"{kind}: damage not detected"
        print(f"damage {kind}: caught ({msgs[0]})", flush=True)
    else:
        assert bad == 0 and not msgs, f"{kind}: clean output fails: {msgs}"


def damage() -> None:
    from perfbench import harness
    from perfbench.workloads import Context, CovidExport, CurationStream

    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    spark = harness.start_session(work)
    ctx = None
    try:
        ctx = Context(spark, 7, SCALE, work, harness.Tracer(spark, "selftest", False))
        covid = CovidExport(ctx)
        covid.generate()
        out = os.path.join(work, "covid")
        covid.run_pass(out)
        covid.release()
        _expect("covid clean", lambda: covid.check(out), False)
        (labs,) = glob.glob(os.path.join(out, "Labs", "*.csv"))
        with open(labs) as f:
            rows = f.read().splitlines()
        cells = rows[1].split(",")
        cells[-1] = f"{cells[-1]}9"  # one more digit: a different value
        rows[1] = ",".join(cells)
        with open(labs, "w") as f:
            f.write("\n".join(rows) + "\n")
        _expect("covid one Labs value changed", lambda: covid.check(out), True)
        shutil.rmtree(os.path.join(out, "Labs"))
        shutil.rmtree(os.path.join(out, "DailyCounts"))
        _expect("covid artifacts removed", lambda: covid.check(out), True)

        llm = CurationStream(ctx)
        llm.generate()
        out = os.path.join(work, "llm")
        llm.run_pass(out)
        llm.release()
        _expect("curation_stream clean", lambda: llm.check(out), False)
        assert not llm.final_check(out), "manifest check fails on clean shards"
        spec = llm.curation.spec
        orig, copies = next(iter(spec.copies.items()))
        shards = glob.glob(os.path.join(out, "curation", "shard=*", "*.json"))
        line = None
        for path in shards:
            with open(path) as f:
                for row in f:
                    if json.loads(row)["doc_id"] == orig:
                        line, target = json.loads(row), path
        assert line is not None, "original of a planted duplicate missing"
        line["doc_id"] = copies[0]
        with open(target, "a") as f:
            f.write(json.dumps(line) + "\n")
        _expect("curation duplicate put back", lambda: llm.check(out), True)
        assert llm.final_check(out), "manifest check misses an appended row"
        print("damage curation manifest: caught", flush=True)
        stream = os.path.join(out, "stream")
        _expect("stream clean", lambda: llm.stream.check(stream), False)
        shutil.rmtree(os.path.join(stream, "corpus", "epoch=1"))
        _expect("stream epoch removed", lambda: llm.stream.check(stream), True)
    finally:
        if ctx is not None:
            ctx.close()
        harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv: list[str]) -> int:
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.dont_write_bytecode = True
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    sys.path.insert(0, ROOT)
    parts = argv or ["smoke", "damage"]
    for part in parts:
        {"smoke": smoke, "damage": damage}[part]()
    print("selftest ok:", " ".join(parts))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

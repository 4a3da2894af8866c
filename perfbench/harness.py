"""Session set-up, span tracing and process readers for the benchmark.

The tracer reads Spark's own status stores from outside the package: the
JVM ``AppStatusStore`` for job and stage totals, and the SQL status store
(``sharedState().statusStore()``) for per-node plan metrics.  Both are
filled by the listener bus with ``spark.ui.enabled=false``; the tracer
drains the bus (``waitUntilEmpty``) before it reads.  Jobs and SQL
executions are attributed to a span by id range, because their ids are
allocated in order and the benchmark is a single closed-loop client; the
span name is also set as the job group, so the jobs carry it.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import signal
import threading
import time

# -- numbers -----------------------------------------------------------------


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile that still has at
    least 10 samples beyond it; with 10 or fewer samples, the maximum."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    k = n - 11  # xs[k] has n - 1 - k = 10 samples above it
    return xs[k], 100.0 * (k + 1) / n, n


# -- processes ---------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def descendants(pid: int | None = None) -> list[int]:
    root = os.getpid() if pid is None else pid
    seen: list[int] = []
    todo = _children(root)
    while todo:
        p = todo.pop()
        if p not in seen:
            seen.append(p)
            todo.extend(_children(p))
    return seen


def _pss_kb(pid: int) -> int:
    """Proportional resident set size: resident pages, with each page
    shared between processes split among them (Python workers fork from
    one daemon, so plain RSS would count their shared pages many times)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory (PSS) of this process and all its descendants
    (driver Python, the JVM, Python workers), sampled from /proc."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        total = _pss_kb(os.getpid()) + sum(_pss_kb(p) for p in descendants())
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def start(self) -> RssSampler:
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return self.peak_kb / 1024.0


# -- session -----------------------------------------------------------------


DRIVER_MEMORY = "1g"


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work_dir: str):
    """A local[nproc] session through the package's own factory, with
    every scratch path inside ``work_dir``."""
    from covid19i2b2_spark.session import get_spark

    n = cpu_count()
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the JVM inherits this; it takes precedence over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "local")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        driver_memory=DRIVER_MEMORY,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # the whole heap committed and touched at start: heap growth
            # and its page faults then never land inside a measured pass,
            # and peak memory does not depend on when the heap grew
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
            ),
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            # the tracer looks jobs, stages and executions up by id after
            # each span; keep them all for the length of one run
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, end the gateway JVM and wait for every process this
    run started to exit (killing any that outlive ``timeout``)."""
    from pyspark import SparkContext

    procs = descendants()
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=timeout)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + timeout
    live = procs
    while live and time.monotonic() < deadline:
        time.sleep(0.1)
        live = [p for p in live if _alive(p)]
    for p in live:
        with contextlib.suppress(OSError):
            os.kill(p, signal.SIGKILL)
    for p in live:
        with contextlib.suppress(ChildProcessError, OSError):
            os.waitpid(p, 0)
    while [p for p in live if _alive(p)] and time.monotonic() < deadline + 10:
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return False
    if state == "Z":  # zombie child of ours: reap it
        with contextlib.suppress(ChildProcessError, OSError):
            os.waitpid(pid, os.WNOHANG)
        return False
    return True


# -- metric strings of the SQL store -----------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: '1,000', '8.4 KiB', '12 ms', or
    the 'total (min, med, max ...)' form, whose total is on line two."""
    m = _NUM.match(text.strip().splitlines()[-1].strip())
    if m is None:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return v * _SIZE.get(unit, _TIME.get(unit, 1.0))


# -- tracer ------------------------------------------------------------------

COUNTERS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.driver_gap_s",
    "spark.input_bytes",
    "spark.task_run_s",
    "spark.task_cpu_s",
    "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes",
    "spark.spill_bytes",
    "spark.gc_s",
    "sql.exchanges",
    "sql.broadcast_bytes",
    "python.udf_rows",
    "python.bytes_to_workers",
    "python.bytes_from_workers",
)


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory and written
    to one file at the end.  A disabled (or paused) tracer records
    nothing and never touches the status stores."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.storage_mem_max = 0
        if enabled:
            jsc = spark.sparkContext._jsc.sc()
            self._jsc = jsc
            self._store = jsc.statusStore()
            self._sql = spark._jsparkSession.sharedState().statusStore()
            self._drain()
            self._next_job = self._scan_jobs(0)
            self._next_stage = self._max_stage(range(self._next_job)) + 1

    # -- spans ---------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, counters: bool = False, tag: bool = True):
        """Time a block.  With tracing on, the block's jobs carry the span
        name as their job group (unless ``tag`` is false: spans opened on
        a streaming callback thread leave that thread's group alone), and
        with ``counters`` the span's Spark and SQL counters are read from
        the status stores after the block."""
        if not self.enabled:
            yield {}
            return
        rec = {
            "run_id": self.run_id,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "id": len(self.spans),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        sc = self.spark.sparkContext
        if counters:
            self._drain()
            first_job = self._scan_jobs(self._next_job)
            self._next_stage = max(
                self._next_stage, self._max_stage(range(self._next_job, first_job)) + 1
            )
            self._next_job = first_job
            first_exec = int(self._sql.executionsCount())
            first_stage = self._next_stage
        if tag:
            sc.setJobGroup(name, f"perfbench {name}")
        rec["wall_start"] = time.time()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_end"] = time.time()
            self._stack.pop()
            if tag:
                sc.setJobGroup(self._stack_name(), "perfbench")
            if counters:
                self._drain()
                rec.update(self._counters(rec, first_job, first_exec, first_stage))
            self._sample_storage()

    @contextlib.contextmanager
    def paused(self):
        """Run a block untraced (the untraced passes of a traced run)."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def _stack_name(self) -> str:
        return self.spans[self._stack[-1]]["name"] if self._stack else "perfbench"

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def counter(self, name: str, key: str) -> float:
        return sum(s.get(key, 0) for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[int, float]:
        out = {}
        for s in self.spans:
            kids = sum(
                c["end"] - c["start"] for c in self.spans if c["parent"] == s["id"]
            )
            out[s["id"]] = (s["end"] - s["start"]) - kids
        return out

    def write(self, path: str) -> None:
        selfs = self.self_times()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                row = dict(s)
                row["duration_s"] = s["end"] - s["start"]
                row["self_s"] = selfs[s["id"]]
                f.write(json.dumps(row, sort_keys=True) + "\n")

    # -- status-store readers ------------------------------------------------

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _scan_jobs(self, start: int) -> int:
        """First job id >= start that the store does not hold yet."""
        i = start
        while self._job(i) is not None:
            i += 1
        return i

    def _job(self, job_id: int):
        from py4j.protocol import Py4JJavaError

        try:
            return self._store.job(job_id)
        except Py4JJavaError:
            return None

    def _stage(self, stage_id: int):
        from py4j.protocol import Py4JJavaError

        try:
            return self._store.lastStageAttempt(stage_id)
        except Py4JJavaError:
            return None

    def _max_stage(self, job_ids) -> int:
        top = -1
        for j in job_ids:
            job = self._job(j)
            if job is None:
                continue
            ids = job.stageIds()
            for k in range(ids.length()):
                top = max(top, int(ids.apply(k)))
        return top

    def _counters(self, rec: dict, first_job: int, first_exec: int, first_stage: int) -> dict:
        end_job = self._scan_jobs(first_job)
        self._next_job = end_job
        c = dict.fromkeys(COUNTERS, 0)
        c["spark.jobs"] = end_job - first_job
        intervals = []
        stage_ids: set[int] = set()
        for j in range(first_job, end_job):
            job = self._job(j)
            sub, done = job.submissionTime(), job.completionTime()
            lo = sub.get().getTime() / 1000.0 if sub.isDefined() else rec["wall_start"]
            hi = done.get().getTime() / 1000.0 if done.isDefined() else rec["wall_end"]
            intervals.append((max(lo, rec["wall_start"]), min(hi, rec["wall_end"])))
            ids = job.stageIds()
            stage_ids.update(int(ids.apply(k)) for k in range(ids.length()))
        busy, cur = 0.0, None
        for lo, hi in sorted(intervals):
            if cur is None or lo > cur[1]:
                if cur is not None:
                    busy += cur[1] - cur[0]
                cur = [lo, hi]
            else:
                cur[1] = max(cur[1], hi)
        if cur is not None:
            busy += max(0.0, cur[1] - cur[0])
        span_s = rec["wall_end"] - rec["wall_start"]
        c["spark.driver_gap_s"] = max(0.0, span_s - busy)
        for sid in sorted(stage_ids):
            if sid < first_stage:
                continue  # created by an earlier span, reused here
            st = self._stage(sid)
            if st is None or st.status().toString() != "COMPLETE":
                continue
            c["spark.stages"] += 1
            c["spark.tasks"] += st.numCompleteTasks()
            c["spark.input_bytes"] += st.inputBytes()
            c["spark.task_run_s"] += st.executorRunTime() / 1e3
            c["spark.task_cpu_s"] += st.executorCpuTime() / 1e9
            c["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
            c["spark.spill_bytes"] += st.diskBytesSpilled()
            c["spark.gc_s"] += st.jvmGcTime() / 1e3
        if stage_ids:
            self._next_stage = max(self._next_stage, max(stage_ids) + 1)
        end_exec = int(self._sql.executionsCount())
        if end_exec > first_exec:
            execs = self._sql.executionsList(first_exec, end_exec - first_exec)
            for i in range(execs.length()):
                self._sql_counters(execs.apply(i).executionId(), c)
        return c

    def _sql_counters(self, exec_id, c: dict) -> None:
        values = self._sql.executionMetrics(exec_id)
        nodes = self._sql.planGraph(exec_id).allNodes()
        for k in range(nodes.length()):
            node = nodes.apply(k)
            name = node.name()
            metrics = {}
            ms = node.metrics()
            for q in range(ms.length()):
                m = ms.apply(q)
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = parse_metric(v.get())
            if name in ("Exchange", "BroadcastExchange"):
                c["sql.exchanges"] += 1
            if name == "BroadcastExchange":
                c["sql.broadcast_bytes"] += metrics.get("data size", 0)
            if "data sent to Python workers" in metrics:
                c["python.udf_rows"] += metrics.get("number of output rows", 0)
                c["python.bytes_to_workers"] += metrics["data sent to Python workers"]
                c["python.bytes_from_workers"] += metrics.get(
                    "data returned from Python workers", 0
                )

    def _sample_storage(self) -> None:
        status = self._jsc.getExecutorMemoryStatus()
        it = status.values().iterator()
        used = 0
        while it.hasNext():
            pair = it.next()
            used += int(pair._1()) - int(pair._2())
        self.storage_mem_max = max(self.storage_mem_max, used)

    def persisted_rdds(self) -> int:
        return int(self.spark.sparkContext._jsc.getPersistentRDDs().size())

"""The benchmark workloads: inputs, one timed pass, output checks and the
staged traces.

Each workload only calls the package's public entry points
(``CovidPipeline``, ``curate`` and the operators it composes,
``DedupIndex`` with ``run_streaming_ingest``, ``sources.sinks``) on files
generated from the seed, then checks what the product wrote.
"""

from __future__ import annotations

import datetime as dt
import glob
import math
import os
import re
import shutil
import time

from pyspark.sql import functions as F

from perfbench import gen

NULL = "∅"


def canon(v) -> str:
    """One cell as text, so a CSV read back as strings and a typed DuckDB
    result compare equal: NULL -> sentinel, numbers rounded to 6 places
    (integral ones without a fraction), dates in ISO form."""
    if v is None:
        return NULL
    if isinstance(v, float) and math.isnan(v):
        return NULL
    s = v.isoformat() if isinstance(v, (dt.date, dt.datetime)) else str(v)
    if s.lower() in ("true", "false"):
        return s.lower()
    try:
        f = float(s)
    except ValueError:
        return s
    if math.isnan(f) or math.isinf(f):
        return s.lower()
    r = round(f, 6)
    return str(int(r)) if r == int(r) and abs(r) < 1e15 else repr(r)


def canon_rows(columns: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return (
        [columns[i] for i in order],
        sorted(tuple(canon(r[i]) for i in order) for r in rows),
    )


def files_and_bytes(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


def dir_bytes(path: str) -> int:
    return files_and_bytes(path)[1]


class Context:
    """What a workload needs: the session, the seed and size, a private
    work directory, the tracer and a lazily opened DuckDB connection."""

    def __init__(self, spark, seed: int, scale: float, work: str, tracer):
        self.spark = spark
        self.seed = seed
        self.scale = scale
        self.work = work
        self.tracer = tracer
        self._con = None

    @property
    def con(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            self._con.execute("SET threads TO 2")
        return self._con

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


class Workload:
    name = ""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.spark = ctx.spark
        self.scale = ctx.scale
        self.inputs = os.path.join(ctx.work, "inputs")

    def generate(self) -> None:
        raise NotImplementedError

    def input_bytes(self) -> int:
        return dir_bytes(self.inputs)

    def measure_inputs(self) -> dict:
        raise NotImplementedError

    def run_pass(self, out: str) -> tuple[float, list[float]]:
        """One closed-loop pass: (wall seconds, latency of each operation).
        An operation is one pass, except on curation_stream (one epoch)."""
        raise NotImplementedError

    def stored_bytes(self, out: str) -> int:
        """Bytes the pass left on disk (the product's own output)."""
        return dir_bytes(out)

    def release(self) -> None:
        """Free what the last pass left cached (outside the timed region)."""

    def check(self, out: str) -> tuple[int, int, list[str]]:
        """(operations checked, operations failed, messages) for the
        output of one pass."""
        raise NotImplementedError

    def final_check(self, out: str) -> list[str]:
        """Checks that only run on the last pass (they cost Spark jobs)."""
        return []

    def warmup(self) -> None:
        """One untimed pass, so the JIT, the generated-code cache and the
        Python workers are warm for the measured passes."""
        self.run_pass(os.path.join(self.ctx.work, "warmup"))
        self.release()

    def traced_pass(self, out: str) -> None:
        """The product path with each public call in its own span; the
        runner wraps it in the "pass" span that reads the counters."""
        raise NotImplementedError

    def staged_pass(self, out: str) -> None:
        """The same result built one public call at a time, each stage
        materialized inside its own span (covid_export, curation)."""

    def compare_staged(self, unstaged: str, staged: str) -> list[str]:
        return []

    def layer_metrics(self, traced: str) -> dict[str, float]:
        """Per-layer numbers of this workload, from the spans and from the
        traced pass's output directory."""
        return {}


# -- covid_export ------------------------------------------------------------


class CovidExport(Workload):
    name = "covid_export"
    ORACLES = {
        "DailyCounts": "q_covid_daily_counts",
        "ClinicalCourse": "q_covid_clinical_course",
        "Demographics": "q_covid_demographics",
        "Labs": "q_covid_labs",
        "Diagnoses": "q_covid_diagnoses",
        "Medications": "q_covid_medications",
    }

    def __init__(self, ctx):
        super().__init__(ctx)
        self._oracle_rows: dict[str, tuple] | None = None

    def generate(self) -> None:
        gen.write_covid(self.spark, self.ctx.seed, self.scale, self.inputs)

    def measure_inputs(self) -> dict:
        return gen.measure_covid(self.ctx.con, self.inputs)

    def pipeline(self):
        from covid19i2b2_spark.pipelines import adapter
        from covid19i2b2_spark.pipelines.covid import CovidConfig, CovidPipeline

        d = self.inputs
        return CovidPipeline(
            CovidConfig(),
            adapter.observation_fact(self.spark, d),
            adapter.patient_dimension(self.spark, d),
            adapter.visit_dimension(self.spark, d),
        )

    def run_pass(self, out: str) -> tuple[float, list[float]]:
        t = time.perf_counter()
        self.pipeline().export(out)
        wall = time.perf_counter() - t
        return wall, [wall]

    def release(self) -> None:
        # CovidPipeline caches its cohort frames for the session's life
        self.spark.catalog.clearCache()

    def oracle_rows(self) -> dict[str, tuple]:
        if self._oracle_rows is None:
            from covid19i2b2_spark import registry

            con = self.ctx.con
            for t in ("events", "customer"):
                con.execute(
                    f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.inputs}/{t}.parquet/*.parquet')"
                )
            oracles = registry.all_oracles()
            self._oracle_rows = {}
            for art, q in self.ORACLES.items():
                cur = con.execute(oracles[q])
                cols = [d[0] for d in cur.description]
                self._oracle_rows[art] = canon_rows(cols, cur.fetchall())
        return self._oracle_rows

    def read_csv(self, path: str) -> tuple[list[str], list[tuple]] | None:
        files = sorted(glob.glob(os.path.join(path, "*.csv")))
        if not files:
            return None
        cur = self.ctx.con.execute(
            "SELECT * FROM read_csv(?, header = true, all_varchar = true)",
            [files],
        )
        return canon_rows([d[0] for d in cur.description], cur.fetchall())

    def check(self, out: str) -> tuple[int, list[str]]:
        errors = []
        for art, (cols, rows) in self.oracle_rows().items():
            got = self.read_csv(os.path.join(out, art))
            if got is None:
                errors.append(f"{art}: artifact missing")
                continue
            if got[0] != cols:
                errors.append(f"{art}: columns {got[0]} != oracle {cols}")
            elif len(got[1]) != len(rows):
                errors.append(f"{art}: {len(got[1])} rows != oracle {len(rows)}")
            elif got[1] != rows:
                bad = sum(a != b for a, b in zip(got[1], rows))
                errors.append(f"{art}: {bad} rows differ from the oracle")
        return 1, int(bool(errors)), errors

    def traced_pass(self, out: str) -> None:
        with self.ctx.tracer.span("pipelines.covid.export"):
            self.pipeline().export(out)

    def staged_pass(self, out: str) -> None:
        from covid19i2b2_spark.sources.sinks import write_csv

        tr = self.ctx.tracer
        pipe = self.pipeline()
        methods = {
            "DailyCounts": pipe.daily_counts,
            "ClinicalCourse": pipe.clinical_course,
            "Demographics": pipe.demographics,
            "Labs": pipe.labs,
            "Diagnoses": pipe.diagnoses,
            "Medications": pipe.medications,
        }
        with tr.span("staged"):
            with tr.span("pipelines.covid.cohort", counters=True):
                pipe.cohort().count()
            for name, build in methods.items():
                with tr.span(f"pipelines.covid.{name}", counters=True):
                    with tr.span("queries.build"):
                        df = build()
                    with tr.span("sources.sinks.write_csv"):
                        write_csv(
                            df,
                            os.path.join(out, name),
                            order_by=pipe.KEY_COLS[name],
                            single_file=True,
                        )
        self.release()

    def compare_staged(self, unstaged: str, staged: str) -> list[str]:
        errors = []
        for art in self.ORACLES:
            a = self.read_csv(os.path.join(unstaged, art))
            b = self.read_csv(os.path.join(staged, art))
            if a is None or b is None or a != b:
                errors.append(f"staged {art} differs from export()")
        return errors

    def layer_metrics(self, traced: str) -> dict[str, float]:
        tr = self.ctx.tracer
        m = {
            "pipelines.covid.cohort_s": tr.duration("pipelines.covid.cohort"),
            "sources.sinks.write_csv_s": tr.duration("sources.sinks.write_csv"),
            "queries.build_s": tr.duration("queries.build"),
            "queries.action_s": tr.duration("sources.sinks.write_csv")
            + tr.duration("pipelines.covid.cohort"),
        }
        for art in self.ORACLES:
            m[f"pipelines.covid.{art}_s"] = tr.duration(f"pipelines.covid.{art}")
        return m


# -- curation ----------------------------------------------------------------


class Curation(Workload):
    name = "curation"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.spec = gen.CurationSpec(self.scale, self.ctx.seed)
        self._handles: list = []

    def generate(self) -> None:
        gen.write_curation(self.spark, self.ctx.seed, self.spec, self.inputs)

    def measure_inputs(self) -> dict:
        return gen.measure_curation(self.ctx.con, self.inputs, self.spec)

    def frames(self):
        read = self.spark.read.parquet
        return (
            read(os.path.join(self.inputs, "corpus.parquet")),
            read(os.path.join(self.inputs, "evals.parquet")),
        )

    def run_pass(self, out: str) -> tuple[float, list[float]]:
        from covid19i2b2_spark.pipelines.curation import curate
        from covid19i2b2_spark.sources.sinks import (
            write_shard_manifest,
            write_training_shards,
        )

        self.release()
        corpus, evals = self.frames()
        t = time.perf_counter()
        df = curate(corpus, evals, cache_handles=self._handles)
        write_training_shards(df, out)
        wall = time.perf_counter() - t
        # the integrity manifest comes from the pass's own DataFrame while
        # its intermediates are still cached; verified in final_check
        write_shard_manifest(self.spark, df, out, token_count_col="n_tokens")
        self.release()
        return wall, [wall]

    def stored_bytes(self, out: str) -> int:
        return dir_bytes(out) - dir_bytes(os.path.join(out, "_MANIFEST"))

    def release(self) -> None:
        for h in self._handles:
            h.unpersist()
        self._handles = []

    def read_shards(self, out: str) -> list[tuple]:
        files = sorted(glob.glob(os.path.join(out, "shard=*", "*.json")))
        if not files:
            return []
        return self.ctx.con.execute(
            "SELECT doc_id, text, n_tokens, chunk_id, shard FROM read_json(?, "
            "format = 'newline_delimited', hive_partitioning = true, "
            "columns = {doc_id: 'BIGINT', text: 'VARCHAR', n_tokens: 'INTEGER', "
            "chunk_id: 'VARCHAR'})",
            [files],
        ).fetchall()

    def check(self, out: str) -> tuple[int, int, list[str]]:
        spec = self.spec
        rows = self.read_shards(out)
        errors = []
        if not rows:
            return 1, 1, ["no shards written"]
        ids = [r[0] for r in rows]
        idset = set(ids)
        if len(idset) != len(ids):
            errors.append(f"{len(ids) - len(idset)} duplicate ids in the output")
        foreign = idset - set(range(spec.n_docs))
        if foreign:
            errors.append(f"{len(foreign)} output ids not in the input")
        dup_left = sum(
            1 for orig, copies in spec.copies.items()
            if len(idset & {orig, *copies}) > 1
        )
        if dup_left:
            errors.append(f"{dup_left} planted exact-duplicate groups kept twice")
        contam = idset & set(spec.contaminated)
        if contam:
            errors.append(f"{len(contam)} contaminated docs kept")
        base = {r[0] for r in spec.rows if r[1] == r[0] and r[2] == 0 and r[5] == 0}
        missing = base - idset
        if missing:
            errors.append(f"{len(missing)} unique base docs lost")
        bad_tokens = sum(1 for r in rows if len(r[1].split()) != r[2])
        if bad_tokens:
            errors.append(f"{bad_tokens} rows with a wrong n_tokens")
        bad_chunk = sum(1 for r in rows if not str(r[3]).startswith(f"{r[4]}-"))
        if bad_chunk:
            errors.append(f"{bad_chunk} rows whose chunk_id is not in their shard")
        for d in glob.glob(os.path.join(out, "shard=*")):
            if len(glob.glob(os.path.join(d, "*.json"))) != 1:
                errors.append(f"{os.path.basename(d)} is not exactly one file")
        return 1, int(bool(errors)), errors

    def final_check(self, out: str) -> list[str]:
        """The product's own integrity gate: re-read the shards and
        compare them with the manifest written from the pass's DataFrame."""
        from covid19i2b2_spark.sources.sinks import verify_training_shards

        from py4j.protocol import Py4JJavaError

        try:
            bad = verify_training_shards(self.spark, out).filter(~F.col("ok")).count()
        except Py4JJavaError as e:  # e.g. a shard no longer matches its .crc
            return [f"shards unreadable: {str(e.java_exception)[:200]}"]
        return [f"{bad} shards fail verify_training_shards"] if bad else []

    def traced_pass(self, out: str) -> None:
        from covid19i2b2_spark.pipelines.curation import curate
        from covid19i2b2_spark.sources.sinks import write_training_shards

        self.release()
        tr = self.ctx.tracer
        corpus, evals = self.frames()
        with tr.span("pipelines.curation.call"):
            df = curate(corpus, evals, cache_handles=self._handles)
        with tr.span("pipelines.curation.action"):
            write_training_shards(df, out)

    def staged_pass(self, out: str) -> None:
        """curate() with its default config, one operator at a time (the
        optional stages it skips by default are skipped here too)."""
        from covid19i2b2_spark.operators.contamination import contamination_report
        from covid19i2b2_spark.operators.dedup import (
            exact_dedup,
            line_dedup,
            minhash_dedup_pairs,
        )
        from covid19i2b2_spark.operators.dedup_clusters import dedup_decision
        from covid19i2b2_spark.operators.sampling import pack_sequences
        from covid19i2b2_spark.operators.text import fingerprint, token_count
        from covid19i2b2_spark.pipelines.curation import CurationConfig
        from covid19i2b2_spark.sources.sinks import write_training_shards

        self.release()
        tr = self.ctx.tracer
        cfg = CurationConfig()
        corpus, evals = self.frames()
        held = self._handles
        i, t = "doc_id", "text"

        def pin(df):
            df = df.persist()
            held.append(df)
            df.count()
            return df

        with tr.span("staged"):
            with tr.span("operators.dedup.line_dedup", counters=True):
                cleaned = pin(
                    line_dedup(
                        corpus.select(i, t), i, t,
                        max_doc_frac=cfg.boilerplate_max_doc_frac,
                        min_docs=cfg.boilerplate_min_docs,
                    ).filter(F.trim(F.col(t)) != "")
                )
            with tr.span("operators.dedup.exact_dedup", counters=True):
                uniq = pin(
                    exact_dedup(
                        cleaned.withColumn("__fp", fingerprint(t)),
                        keys=["__fp"], tiebreak=[i],
                    ).drop("__fp")
                )
            with tr.span("operators.dedup.minhash_dedup_pairs", counters=True):
                pairs = pin(
                    minhash_dedup_pairs(
                        uniq, i, t,
                        n_hashes=cfg.minhash_hashes, n_bands=cfg.minhash_bands,
                        shingle_k=cfg.shingle_k, threshold=cfg.minhash_threshold,
                        seed=cfg.seed, cache_handles=held,
                    )
                )
            with tr.span("operators.dedup_clusters.dedup_decision", counters=True):
                decision = pin(dedup_decision(uniq.select(i), pairs, i, cache_handles=held))
            survivors = uniq.join(
                decision.filter(F.col("keep")).select(i), i, "left_semi"
            )
            with tr.span("operators.contamination.report", counters=True):
                report = pin(
                    contamination_report(
                        survivors, evals, i, t,
                        n=cfg.contamination_n, threshold=cfg.contamination_threshold,
                    )
                )
            clean = survivors.join(
                report.filter(~F.col("contaminated")).select(i), i, "left_semi"
            )
            with tr.span("operators.sampling.pack_sequences", counters=True):
                packed = pin(
                    pack_sequences(
                        clean.withColumn("n_tokens", token_count(t)), i, "n_tokens",
                        target_tokens=cfg.target_tokens, n_shards=cfg.n_shards,
                        seed=cfg.seed,
                    ).select(i, t, "n_tokens", "shard", "chunk_id")
                )
            with tr.span("sources.sinks.write_training_shards", counters=True):
                write_training_shards(packed, out)
        kept = {r[0] for r in decision.filter(F.col("keep")).select(i).collect()}
        self.residual = sum(1 for fam in self.spec.families if len(kept & set(fam)) > 1)
        self.release()

    def compare_staged(self, unstaged: str, staged: str) -> list[str]:
        a, b = sorted(self.read_shards(unstaged)), sorted(self.read_shards(staged))
        return [] if a == b and a else ["staged curation output differs from curate()"]

    def layer_metrics(self, traced: str) -> dict[str, float]:
        tr = self.ctx.tracer
        names = (
            "pipelines.curation.call",
            "pipelines.curation.action",
            "operators.dedup.line_dedup",
            "operators.dedup.exact_dedup",
            "operators.dedup.minhash_dedup_pairs",
            "operators.dedup_clusters.dedup_decision",
            "operators.contamination.report",
            "operators.sampling.pack_sequences",
            "sources.sinks.write_training_shards",
        )
        m = {f"{n}_s": tr.duration(n) for n in names}
        m["operators.dedup_clusters.rounds"] = tr.counter(
            "operators.dedup_clusters.dedup_decision", "spark.jobs"
        )
        m["operators.dedup_clusters.residual_families"] = self.residual
        m["queries.build_s"] = tr.duration("pipelines.curation.call")
        m["queries.action_s"] = tr.duration("pipelines.curation.action")
        return m


# -- streaming ingest (the second phase of curation_stream) -----------------

_JOB_UUID = re.compile(r"part-\d+-([0-9a-f]{8}-[0-9a-f-]{27})")


def write_generations(path: str) -> int:
    """Distinct write jobs whose part files a table directory still holds."""
    uuids = set()
    for _root, _dirs, files in os.walk(path):
        for f in files:
            m = _JOB_UUID.match(f)
            if m:
                uuids.add(m.group(1))
    return len(uuids)


class _TimedIndex:
    """A DedupIndex seen through spans: filter_batch and append are
    timed from the foreachBatch thread, everything else delegates."""

    def __init__(self, index, tracer):
        self._index = index
        self._tracer = tracer

    def __getattr__(self, name):
        return getattr(self._index, name)

    def filter_batch(self, *args, **kwargs):
        with self._tracer.span("operators.dedup_incremental.filter_batch", tag=False):
            return self._index.filter_batch(*args, **kwargs)

    def append(self, *args, **kwargs):
        with self._tracer.span("operators.dedup_incremental.append", tag=False):
            return self._index.append(*args, **kwargs)


class DedupStream(Workload):
    name = "stream"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.spec = gen.StreamSpec(self.scale)
        self.progress: list = []

    def generate(self) -> None:
        gen.write_stream(self.spark, self.ctx.seed, self.spec, self.inputs)

    def measure_inputs(self) -> dict:
        return gen.measure_stream(self.ctx.con, self.inputs, self.spec)

    def batch_files(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.inputs, "batches", "*.parquet")))

    def input_bytes(self) -> int:
        return dir_bytes(os.path.join(self.inputs, "seed.parquet")) + sum(
            os.path.getsize(f) for f in self.batch_files()
        )

    def _ingest(self, out: str) -> float:
        """Land the batch files, then (timed) build the index from the
        seed corpus, ingest every batch as one epoch, compact."""
        from covid19i2b2_spark.operators.dedup_incremental import DedupIndex
        from covid19i2b2_spark.streaming.curation import run_streaming_ingest

        land = os.path.join(out, "landing")
        os.makedirs(land)
        for f in self.batch_files():
            dst = os.path.join(land, os.path.basename(f))
            shutil.copy2(f, dst)
        seed_df = self.spark.read.parquet(os.path.join(self.inputs, "seed.parquet"))
        stream = (
            self.spark.readStream.schema(seed_df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(land)
        )
        index = DedupIndex(os.path.join(out, "index"))
        tr = self.ctx.tracer
        t = time.perf_counter()
        with tr.span("operators.dedup_incremental.build", counters=True):
            index.build(seed_df, "doc_id", "text")
        with tr.span("streaming.ingest", counters=True):
            q = run_streaming_ingest(
                stream,
                _TimedIndex(index, tr) if tr.enabled else index,
                os.path.join(out, "corpus"),
                checkpoint_dir=os.path.join(out, "checkpoint"),
            )
            q.awaitTermination()
        if tr.enabled:
            self.versions_held = sum(
                write_generations(os.path.join(out, "index", d))
                for d in ("fingerprints", "bands")
            )
        with tr.span("operators.dedup_incremental.compact", counters=True):
            index.compact(self.spark)
        wall = time.perf_counter() - t
        if q.exception() is not None:
            raise RuntimeError(f"ingest failed: {q.exception()}")
        self.progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        return wall

    def run_pass(self, out: str) -> tuple[float, list[float]]:
        wall = self._ingest(out)
        return wall, [p["durationMs"]["triggerExecution"] / 1e3 for p in self.progress]

    def check(self, out: str) -> tuple[int, int, list[str]]:
        spec = self.spec
        con = self.ctx.con
        errors = []
        n_ok = 0
        all_ids: list[int] = []
        for b, expected in enumerate(spec.expected):
            files = glob.glob(os.path.join(out, "corpus", f"epoch={b}", "*.parquet"))
            ids = (
                [r[0] for r in con.execute("SELECT doc_id FROM read_parquet(?)", [files]).fetchall()]
                if files
                else []
            )
            all_ids += ids
            if set(ids) == expected and len(ids) == len(expected):
                n_ok += 1
            else:
                errors.append(
                    f"epoch {b}: {len(set(ids) - expected)} unexpected survivors, "
                    f"{len(expected - set(ids))} missing"
                )
        if len(set(all_ids)) != len(all_ids):
            errors.append(f"{len(all_ids) - len(set(all_ids))} ids appear twice in the corpus")
        inputs = {i for rows in spec.batches for i, _, _ in rows}
        if not set(all_ids) <= inputs:
            errors.append("corpus holds ids that were never ingested")
        kept_cross = set(all_ids) & set(spec.planted_cross)
        if kept_cross:
            errors.append(f"{len(kept_cross)} planted cross-batch duplicates kept")
        extra = glob.glob(os.path.join(out, "corpus", "epoch=*"))
        if len(extra) != len(spec.expected):
            errors.append(f"{len(extra)} epochs committed, expected {len(spec.expected)}")
        n = len(spec.expected)
        return n, max(n - n_ok, int(bool(errors))), errors

    def stored_bytes(self, out: str) -> int:
        return dir_bytes(os.path.join(out, "index")) + dir_bytes(
            os.path.join(out, "corpus")
        )

    def traced_pass(self, out: str) -> None:
        self._ingest(out)

    def layer_metrics(self, traced: str) -> dict[str, float]:
        tr = self.ctx.tracer
        rows_in = sum(len(b) for b in self.spec.batches)
        rows_kept = sum(len(e) for e in self.spec.expected)
        n_files, n_bytes = files_and_bytes(os.path.join(traced, "index"))
        c_files, c_bytes = files_and_bytes(os.path.join(traced, "corpus"))
        dur = lambda key: sum(p["durationMs"].get(key, 0) for p in self.progress) / 1e3
        return {
            "operators.dedup_incremental.build_s": tr.duration("operators.dedup_incremental.build"),
            "operators.dedup_incremental.filter_batch_s": tr.duration("operators.dedup_incremental.filter_batch"),
            "operators.dedup_incremental.append_s": tr.duration("operators.dedup_incremental.append"),
            "operators.dedup_incremental.compact_s": tr.duration("operators.dedup_incremental.compact"),
            "operators.dedup_incremental.dup_frac": (rows_in - rows_kept) / rows_in,
            "streaming.add_batch_s": dur("addBatch"),
            "streaming.wal_commit_s": dur("walCommit"),
            "store.bytes_on_disk": n_bytes + c_bytes,
            "store.files": n_files + c_files,
            "store.versions_held": self.versions_held,
            "store.bytes_rewritten_by_compact": sum(
                dir_bytes(os.path.join(traced, "index", d))
                for d in ("fingerprints", "bands")
            ),
        }


class CurationStream(Workload):
    """Batch curation of a crawl snapshot into training shards, then
    streaming ingest of new crawl batches through the incremental dedup
    index: the LLM data path end to end, in one pass."""

    name = "curation_stream"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.curation = Curation(ctx)
        self.stream = DedupStream(ctx)
        self.parts = (self.curation, self.stream)

    def generate(self) -> None:
        for p in self.parts:
            p.generate()

    def input_bytes(self) -> int:
        return sum(p.input_bytes() for p in self.parts)

    def measure_inputs(self) -> dict:
        return {p.name: p.measure_inputs() for p in self.parts}

    def run_pass(self, out: str) -> tuple[float, list[float]]:
        wall_c, _ = self.curation.run_pass(os.path.join(out, "curation"))
        wall_s, epochs = self.stream.run_pass(os.path.join(out, "stream"))
        return wall_c + wall_s, epochs

    def stored_bytes(self, out: str) -> int:
        return sum(p.stored_bytes(os.path.join(out, p.name)) for p in self.parts)

    def release(self) -> None:
        for p in self.parts:
            p.release()

    def check(self, out: str) -> tuple[int, int, list[str]]:
        n = bad = 0
        msgs: list[str] = []
        for p in self.parts:
            pn, pbad, pmsgs = p.check(os.path.join(out, p.name))
            n, bad = n + pn, bad + pbad
            msgs += [f"{p.name}: {m}" for m in pmsgs]
        return n, bad, msgs

    def final_check(self, out: str) -> list[str]:
        return self.curation.final_check(os.path.join(out, "curation"))

    def traced_pass(self, out: str) -> None:
        for p in self.parts:
            p.traced_pass(os.path.join(out, p.name))

    def staged_pass(self, out: str) -> None:
        self.curation.staged_pass(os.path.join(out, "curation"))

    def compare_staged(self, unstaged: str, staged: str) -> list[str]:
        return self.curation.compare_staged(
            os.path.join(unstaged, "curation"), os.path.join(staged, "curation")
        )

    def layer_metrics(self, traced: str) -> dict[str, float]:
        m = {}
        for p in self.parts:
            m.update(p.layer_metrics(os.path.join(traced, p.name)))
        return m


WORKLOADS = {w.name: w for w in (CovidExport, CurationStream)}

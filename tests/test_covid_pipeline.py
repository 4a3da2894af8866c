"""Covid pipeline tests on the synthetic i2b2 fixture: ground-truth
assertions + the SURVEY §5.2 property checks (cohort invariants, monotone
cumulatives, W1 ≡ J7 self-join equivalence, export round-trip)."""

from __future__ import annotations

import threading
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from covid19i2b2_spark.operators.obfuscation import ObfuscationConfig
from covid19i2b2_spark.pipelines.covid import CovidConfig, CovidPipeline
from covid19i2b2_spark.pipelines.fixture import make_fixture
from covid19i2b2_spark.sources.sinks import write_csv

N = 200
OBFUSCATED = CovidConfig(
    obfuscation=ObfuscationConfig(blur=2, small_count_mask=10, seed=7)
)


def _pipeline(spark, cfg: CovidConfig) -> CovidPipeline:
    fx = make_fixture(spark, n_patients=N)
    d = fx["observation_fact"].withColumn("start_date", F.to_date("start_date"))
    pats = fx["patient_dimension"].withColumn("death_date", F.to_date("death_date"))
    vis = (
        fx["visit_dimension"]
        .withColumn("start_date", F.to_date("start_date"))
        .withColumn("end_date", F.to_date("end_date"))
    )
    return CovidPipeline(cfg, d, pats, vis)


@pytest.fixture(scope="module")
def pipe(spark):
    return _pipeline(spark, CovidConfig())


def test_cohort_ground_truth(pipe):
    cohort = pipe.cohort().collect()
    # every patient has a qualifying admission by construction
    assert len(cohort) == N
    by_id = {r.patient_num: r for r in cohort}
    for p, r in by_id.items():
        # admission is 1 day after the positive test, within the window
        assert (r.admission_date - r.discharge_date).days < 0
        assert r.severe == (1 if p % 5 == 0 else 0), f"severe wrong for {p}"
        if p % 5 == 0:
            assert (r.severe_date - r.admission_date).days == 2
        assert (r.death_date is not None) == (p % 7 == 0)


def test_cohort_invariants(pipe):
    """severe ⊆ cohort with severe_date >= admission_date; discharge >=
    admission (SURVEY §5.2 property list)."""
    bad_sev = pipe.cohort().filter(
        (F.col("severe") == 1)
        & (
            F.col("severe_date").isNull()
            | (F.col("severe_date") < F.col("admission_date"))
        )
    )
    assert bad_sev.count() == 0
    bad_los = pipe.cohort().filter(F.col("discharge_date") < F.col("admission_date"))
    assert bad_los.count() == 0


def test_daily_counts_monotone_and_matches_self_join(pipe):
    dc = pipe.daily_counts().collect()
    # monotone cumulative counts
    for col in (
        "cumulative_patients_all",
        "cumulative_patients_severe",
        "cumulative_patients_dead",
    ):
        vals = [getattr(r, col) for r in dc]
        assert vals == sorted(vals), f"{col} not monotone"
    assert dc[-1].cumulative_patients_all == N
    assert dc[-1].cumulative_patients_severe == N // 5
    # W1 (window) ≡ J7 (the reference's <= self-join) on a sample of days
    cohort = pipe.cohort()
    for r in dc[:: max(1, len(dc) // 7)]:
        expected = cohort.filter(
            F.col("admission_date") <= F.lit(r.calendar_date)
        ).count()
        assert r.cumulative_patients_all == expected, str(r.calendar_date)


def test_clinical_course_day0_is_everyone(pipe):
    cc = {r.days_since_admission: r for r in pipe.clinical_course().collect()}
    assert cc[0].num_patients_all_still_in_hospital == N
    assert cc[0].num_patients_ever_severe_still_in_hospital == N // 5
    # counts never increase with day
    days = sorted(cc)
    counts = [cc[d].num_patients_all_still_in_hospital for d in days]
    assert counts == sorted(counts, reverse=True)


def test_demographics_margins_consistent(pipe):
    demo = pipe.demographics().collect()
    total = [r for r in demo if (r.sex, r.age_group, r.race) == ("all", "all", "all")]
    assert len(total) == 1 and total[0].num_patients_all == N
    # margin consistency: sum over sexes at (age=all, race=all) == total
    sex_rows = [
        r for r in demo if r.sex != "all" and r.age_group == "all" and r.race == "all"
    ]
    assert sum(r.num_patients_all for r in sex_rows) == N


def test_labs_shape(pipe):
    labs = pipe.labs().collect()
    assert len(labs) > 0
    assert {r.loinc for r in labs} == {"1742-6", "2160-0"}
    assert len({r.days_since_admission for r in labs}) >= 4
    for r in labs:
        assert r.num_patients_ever_severe <= r.num_patients_all
        assert r.stdev_value_all >= 0.0


def test_diagnoses_windows(pipe):
    dx = {r.icd_code_3chars: r for r in pipe.diagnoses().collect()}
    # E11.9 planted 100 days before admission -> 'before' bucket
    assert dx["E11"].num_patients_all_before_admission == N
    assert dx["E11"].num_patients_all_since_admission == 0
    # J80 planted 2 days after admission (severe patients only)
    assert dx["J80"].num_patients_all_since_admission == N // 5
    assert dx["J80"].num_patients_ever_severe_since_admission == N // 5


def test_medications_map(pipe):
    meds = {r.med_class: r for r in pipe.medications().collect()}
    assert meds["HCQ"].num_patients_all_since_admission == N // 4
    assert set(meds) == {"HCQ"}


def test_obfuscated_export_round_trip(spark, tmp_path):
    pipe = _pipeline(spark, OBFUSCATED)
    out = str(tmp_path / "export")
    pipe.export(out)
    demo = spark.read.option("header", True).csv(f"{out}/Demographics")
    rows = demo.collect()
    assert len(rows) > 0
    # obfuscation invariants on the exported file: masked or >= 0
    for r in rows:
        v = int(r.num_patients_all)
        assert v == -99 or v >= 0
    # deterministic: a second pipeline produces byte-identical artifact
    pipe2 = _pipeline(spark, OBFUSCATED)
    demo2 = pipe2.all_artifacts()["Demographics"]
    a = sorted(map(str, pipe.all_artifacts()["Demographics"].collect()))
    b = sorted(map(str, demo2.collect()))
    assert a == b


def _csv_bytes(path: Path) -> bytes:
    return b"".join(p.read_bytes() for p in sorted(path.glob("part-*")))


@pytest.mark.parametrize("cfg", [CovidConfig(), OBFUSCATED], ids=["plain", "obfuscated"])
def test_export_matches_sequential_writes(spark, tmp_path, cfg):
    """export() writes the six artifacts concurrently; every CSV must be
    byte-identical to writing that all_artifacts() frame through
    write_csv on its own."""
    pipe = _pipeline(spark, cfg)
    pipe.export(str(tmp_path / "export"))
    for name, df in pipe.all_artifacts().items():
        seq = tmp_path / "sequential" / name
        write_csv(df, str(seq), order_by=pipe.KEY_COLS[name], single_file=True)
        got = _csv_bytes(tmp_path / "export" / name)
        assert got and got == _csv_bytes(seq), name


def test_export_failure_raised_after_every_writer_finished(pipe, tmp_path, monkeypatch):
    def broken():
        raise RuntimeError("labs failed")

    monkeypatch.setattr(pipe, "labs", broken)
    out = tmp_path / "export"
    with pytest.raises(RuntimeError, match="labs failed"):
        pipe.export(str(out))
    assert not [t for t in threading.enumerate() if t.name.startswith("covid-export")]
    # the other five writers ran to completion, none was abandoned
    written = {p.parent.name for p in out.glob("*/_SUCCESS")}
    assert written == set(pipe.KEY_COLS) - {"Labs"}


def test_export_jobs_carry_callers_job_group(spark, pipe, tmp_path):
    """Every job export() launches, from any of its writer threads, is
    listed under the caller's job group (what per-operator job tagging
    relies on)."""
    from covid19i2b2_spark.operators.dedup import drain_cap_logs

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def marker_job(group: str) -> int:
        sc.setJobGroup(group, group)
        sc.parallelize([0], 1).count()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return max(tracker.getJobIdsForGroup(group))

    # earlier tests' background cap-warning jobs would land in the window
    drain_cap_logs()
    try:
        before = marker_job("export-test-before")
        sc.setJobGroup("export-test", "covid export")
        pipe.export(str(tmp_path / "export"))
        after = marker_job("export-test-after")
    finally:
        sc._jsc.clearJobGroup()
    launched = set(range(before + 1, after))
    assert launched
    assert set(tracker.getJobIdsForGroup("export-test")) == launched

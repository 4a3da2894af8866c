"""The 4CE Phase 1.1 extraction pipeline, Spark-first (SURVEY.md §3).

Reference: 4CE_Phase1.1_Files_mssql.sql (reconstructed; /root/reference was
empty at survey time — see SURVEY.md §0).  Three stages:

1. cohort construction (~L330-520): positive-test patients -> admissions
   within a window of the positive test -> earliest admission per patient
   -> severity (union of severe indicator concepts, min date since
   admission) -> death from patient_dimension.
2. six aggregate artifacts (~L520-920): DailyCounts, ClinicalCourse,
   Demographics, Labs, Diagnoses, Medications — mutually independent given
   the cohort.  The reference runs them sequentially; ``export`` first
   materializes the cached cohort on the calling thread, then builds and
   writes each artifact on its own driver thread, so their Spark jobs
   share the cluster under the default FIFO scheduler (see ``export``).
3. obfuscation + export (~L920-1100): blur/mask/delete per config, ordered
   CSV per artifact.

Spark-first rewrites of the reference's idioms:
- `SELECT INTO #temp` chain      -> lazy lineage; one .cache() on the
  cohort (read 6x) — the only materialization the plan needs (§4.1).
- `<=` self-joins for cumulatives -> window sums over per-day
  pre-aggregates (tiny input, single-partition window is safe).
- `UPDATE ... SET severe=1`       -> left join + withColumn.
- CROSS JOIN #config              -> constant-folded F.lit(siteid).
- code-map temp tables            -> literal DataFrames, always broadcast.

Every groupBy keys on patient_num or a small derived axis; at 100 TB the
fact table bucketed by patient_num makes the cohort build shuffle-free.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import (
    Column,
    DataFrame,
    Window,
    functions as F,
)

from covid19i2b2_spark.functions.buckets import age_group
from covid19i2b2_spark.functions.codes import icd_3chars
from covid19i2b2_spark.operators.aggregates import DEC, DEC_LOG, round6
from covid19i2b2_spark.operators.obfuscation import (
    ObfuscationConfig,
    obfuscate_counts,
)

# Published 4CE lab map (loinc -> name); scale_factor harmonizes site units
# (FIXTURES.md; reference #lab_map ~L90-260 reconstructed).
DEFAULT_LAB_MAP: list[tuple[str, str, float]] = [
    ("1742-6", "alanine aminotransferase", 1.0),
    ("1751-7", "albumin", 1.0),
    ("2160-0", "creatinine", 1.0),
    ("1988-5", "C-reactive protein", 1.0),
    ("6690-2", "white blood cell count", 1.0),
]

# Published 4CE med classes (reference #med_map ~L90-260 reconstructed).
DEFAULT_MED_CLASSES: list[tuple[str, str]] = [
    ("ACEI", "RXNORM:ACEI1"),
    ("HCQ", "RXNORM:HCQ1"),
    ("SIANES", "RXNORM:SIANES1"),
]


@dataclass(frozen=True)
class CovidConfig:
    """Mirrors the reference's 1-row #config (~L40-90 reconstructed) —
    constant-folded into plans as literals, never joined (J8)."""

    siteid: str = "SITE01"
    covid_pos_concepts: tuple[str, ...] = ("COVID:POS",)
    severe_concepts: tuple[str, ...] = ("ICD10CM:J80", "ICD10CM:J96.0", "PROC:VENT")
    icd_prefixes: tuple[str, ...] = ("ICD10CM:", "ICD9CM:")
    admission_days_before_pos: int = 7
    admission_days_after_pos: int = 14
    before_window: tuple[int, int] = (-365, -15)  # days relative to admission
    since_window: tuple[int, int] = (-14, 365)
    obfuscation: ObfuscationConfig | None = None


def _dmean_cond(val_dec, cond, alias):
    """Mean over the rows where cond holds, from exact decimal sums;
    NULL-safe (0 rows -> NULL -> coalesce 0 like the reference)."""
    s = F.sum(F.when(cond, val_dec)).cast("double")
    n = F.count(F.when(cond, val_dec))
    return F.coalesce(round6(s / n), F.lit(0.0)).alias(alias)


def _dstd_cond(val_dec, cond, alias):
    """Sample stddev over rows where cond holds (ISNULL(STDEV,0) for n<2,
    MSSQL semantics the reference pins)."""
    n = F.count(F.when(cond, val_dec))
    nf = n.cast("double")
    s1 = F.sum(F.when(cond, val_dec)).cast("double")
    s2 = F.sum(F.when(cond, val_dec * val_dec)).cast("double")
    var = (s2 - s1 * s1 / nf) / (nf - F.lit(1.0))
    return F.when(n < 2, F.lit(0.0)).otherwise(
        round6(F.sqrt(F.greatest(var, F.lit(0.0))))
    ).alias(alias)


class CovidPipeline:
    """Pipeline over i2b2-shaped DataFrames.

    obs:      observation_fact  (patient_num, concept_cd, start_date DATE,
                                 nval_num)
    patients: patient_dimension (patient_num, sex_cd, race_cd,
                                 age_in_years_num, death_date DATE)
    visits:   visit_dimension   (patient_num, start_date DATE,
                                 end_date DATE, inout_cd)
    """

    def __init__(
        self,
        cfg: CovidConfig,
        obs: DataFrame,
        patients: DataFrame,
        visits: DataFrame,
        lab_map: list[tuple[str, str, float]] | None = None,
        med_map: list[tuple[str, str]] | None = None,
    ) -> None:
        self.cfg = cfg
        self.obs = obs
        self.patients = patients
        self.visits = visits
        self.spark = obs.sparkSession
        self._lab_map = lab_map or DEFAULT_LAB_MAP
        self._med_map = med_map or DEFAULT_MED_CLASSES
        self._cohort: DataFrame | None = None
        self._adm: DataFrame | None = None
        self._cev: DataFrame | None = None

    # -- code maps (S2: literal DataFrames, broadcast at use) ---------------

    def lab_map(self) -> DataFrame:
        # one_partition_df: a code map materialized per artifact build;
        # the default parallelize spread 5 rows over defaultParallelism
        # mostly-empty Python partitions (round 16, guide §1.2)
        from covid19i2b2_spark.fsutil import one_partition_df

        return one_partition_df(
            self.spark,
            [(f"LOINC:{l}", l, s) for l, _, s in self._lab_map],
            "concept_cd string, loinc string, scale_factor double",
        )

    def med_map(self) -> DataFrame:
        from covid19i2b2_spark.fsutil import one_partition_df

        return one_partition_df(
            self.spark, list(self._med_map),
            "med_class string, concept_cd string"
        )

    # -- pipeline 1: cohort (~L330-520) -------------------------------------

    def concept_events(self) -> DataFrame:
        """ONE pushed-down observation scan shared by the cohort chain
        (round 15, guide §1.1 first-principles pass count): the
        covid-positive aggregate and the severe-marker subquery each
        consumed their own full obs scan before; here the union of both
        concept filters feeds a single scan reduced to the three columns
        the chain needs, cached (narrow: marker rows only).  At 100 TB
        this halves the observation-fact passes per cohort build."""
        if self._cev is None:
            pos_c = list(self.cfg.covid_pos_concepts)
            sev_c = list(self.cfg.severe_concepts)
            self._cev = (
                self.obs.filter(F.col("concept_cd").isin(pos_c + sev_c))
                .select(
                    "patient_num",
                    "start_date",
                    F.col("concept_cd").isin(pos_c).alias("__is_pos"),
                    F.col("concept_cd").isin(sev_c).alias("__is_sev"),
                )
                .cache()
            )
        return self._cev

    def covid_pos_patients(self) -> DataFrame:
        """First positive test per patient (A3/J9)."""
        return (
            self.concept_events()
            .filter(F.col("__is_pos"))
            .groupBy("patient_num")
            .agg(F.min("start_date").alias("covid_pos_date"))
        )

    def admissions(self) -> DataFrame:
        """Inpatient visits within [-before, +after] days of the positive
        test (P5 date-window join on the patient key — an equi-join with a
        residual range predicate, never a nested loop)."""
        pos = self.covid_pos_patients()
        lo = F.date_sub(F.col("covid_pos_date"), self.cfg.admission_days_before_pos)
        hi = F.date_add(F.col("covid_pos_date"), self.cfg.admission_days_after_pos)
        return (
            self.visits.filter(F.col("inout_cd") == "I")
            .join(pos, "patient_num")
            .filter(F.col("start_date").between(lo, hi))
        )

    def cohort(self) -> DataFrame:
        """(patient_num, admission_date, discharge_date, severe,
        severe_date, death_date, sex_cd, race_cd, age_in_years_num).

        Cached: read by all six artifacts (the reference materializes
        #covid_cohort once for the same reason; §4.1).  The memoized
        frame re-registers its cache entry when an external
        ``spark.catalog.clearCache()`` dropped it (round 15: the bench
        clears caches between queries, and the stale memo silently
        downgraded every later artifact to a full cohort recompute on
        all of its runs).  The admissions aggregate is cached too:
        enrich_admissions references it twice (driving table + severe
        subquery), which otherwise scans obs/visits twice per cohort
        materialization."""
        if self._cohort is not None:
            for frame in (self._cev, self._adm, self._cohort):
                if frame is not None and not frame.storageLevel.useMemory:
                    frame.cache()
            return self._cohort
        adm = self.admissions().groupBy("patient_num").agg(
            F.min("start_date").alias("admission_date"),
            F.max("end_date").alias("discharge_date"),
        )
        self._adm = adm.cache()
        self._cohort = self.enrich_admissions(self._adm).cache()
        return self._cohort

    def enrich_admissions(self, adm: DataFrame) -> DataFrame:
        """Severity + demographics enrichment over an admissions frame
        (patient_num, admission_date, discharge_date).  Factored out so an
        incrementally-maintained admissions table (streaming/cohort.py)
        flows through the identical cohort logic as the batch path."""
        severe = (
            self.concept_events()
            .filter(F.col("__is_sev"))
            .join(adm.select("patient_num", "admission_date"), "patient_num")
            .filter(F.col("start_date") >= F.col("admission_date"))
            .groupBy("patient_num")
            .agg(F.min("start_date").alias("severe_date"))
        )
        return (
            adm.join(self.patients, "patient_num")
            .join(severe, "patient_num", "left")  # D1: UPDATE -> left join
            .select(
                "patient_num",
                "admission_date",
                "discharge_date",
                F.col("severe_date").isNotNull().cast("int").alias("severe"),
                "severe_date",
                "death_date",
                "sex_cd",
                "race_cd",
                "age_in_years_num",
            )
        )

    # -- pipeline 2: the six artifacts (~L520-920) ---------------------------

    def daily_counts(self) -> DataFrame:
        """#DailyCounts: per calendar date, cumulative all/severe/dead +
        census (in hospital on date, severe in hospital on date).

        Everything — cumulatives AND census — is computed from per-day
        EVENT DELTAS in one pass (W1, replaces the reference's `<=`
        self-join J7 and its point-in-interval census scan): each cohort
        row emits +1 deltas at its admission/severe/death dates and -1
        census deltas at discharge+1, one groupBy(date) aggregates them,
        and a single window turns all five running sums into the output
        columns.  Census-on-date == interval membership because
        in-hospital is the interval [admission, discharge] (+1 at start,
        -1 the day after end) and severe-in-hospital is [severe_date,
        discharge] (severe_date >= admission_date by construction; rows
        with severe_date > discharge_date or a NULL discharge never
        enter the interval, matching the membership predicate).

        Scale: the previous shape joined a broadcast calendar against
        the cohort on a range predicate — a nested-loop O(|cohort| x
        |days|) comparison pass.  The delta shape is one narrow
        projection of <= 4 events per cohort row, one bounded-key
        aggregation (key space = calendar days), and one tiny window —
        no interval join at any cardinality.
        """
        cohort = self.cohort()
        bounds = cohort.agg(
            F.min("admission_date").alias("lo"),
            F.greatest(
                F.max("discharge_date"),
                F.max("death_date"),
                F.max("severe_date"),
            ).alias("hi"),
        )
        calendar = bounds.select(
            F.explode(F.sequence("lo", "hi")).alias("calendar_date")
        )
        has_stay = F.col("discharge_date").isNotNull() & F.col(
            "admission_date"
        ).isNotNull()
        sev_stay = has_stay & (F.col("severe_date") <= F.col("discharge_date"))
        zero = F.lit(0).cast("long")
        one = F.lit(1).cast("long")

        def ev(date: Column, admits=zero, severe=zero, dead=zero, hosp=zero, sev_hosp=zero):
            return F.struct(
                date.alias("calendar_date"),
                admits.alias("d_admits"),
                severe.alias("d_severe"),
                dead.alias("d_dead"),
                hosp.alias("d_hosp"),
                sev_hosp.alias("d_sev_hosp"),
            )

        deltas = (
            cohort.select(
                F.explode(
                    F.array(
                        ev(
                            F.col("admission_date"),
                            admits=one,
                            hosp=F.when(has_stay, 1).otherwise(0).cast("long"),
                        ),
                        ev(
                            F.col("severe_date"),
                            severe=one,
                            sev_hosp=F.when(sev_stay, 1).otherwise(0).cast("long"),
                        ),
                        ev(F.col("death_date"), dead=one),
                        ev(
                            F.date_add("discharge_date", 1),
                            hosp=F.when(has_stay, -1).otherwise(0).cast("long"),
                            sev_hosp=F.when(sev_stay, -1).otherwise(0).cast("long"),
                        ),
                    )
                ).alias("e")
            )
            .select("e.*")
            .filter(F.col("calendar_date").isNotNull())
            .groupBy("calendar_date")
            .agg(
                F.sum("d_admits").alias("d_admits"),
                F.sum("d_severe").alias("d_severe"),
                F.sum("d_dead").alias("d_dead"),
                F.sum("d_hosp").alias("d_hosp"),
                F.sum("d_sev_hosp").alias("d_sev_hosp"),
            )
        )
        daily = calendar.join(deltas, "calendar_date", "left").na.fill(
            0, ["d_admits", "d_severe", "d_dead", "d_hosp", "d_sev_hosp"]
        )
        w = Window.orderBy("calendar_date").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return (
            daily.select(
                "calendar_date",
                F.sum("d_admits").over(w).alias("cumulative_patients_all"),
                F.sum("d_severe").over(w).alias("cumulative_patients_severe"),
                F.sum("d_dead").over(w).alias("cumulative_patients_dead"),
                F.sum("d_hosp").over(w).alias(
                    "num_patients_in_hospital_on_this_date"
                ),
                F.sum("d_sev_hosp").over(w).alias(
                    "num_patients_in_hospital_and_severe_on_this_date"
                ),
            )
            .select(
                F.lit(self.cfg.siteid).alias("siteid"),  # J8 constant-folded
                "calendar_date",
                "cumulative_patients_all",
                "cumulative_patients_severe",
                "cumulative_patients_dead",
                "num_patients_in_hospital_on_this_date",
                "num_patients_in_hospital_and_severe_on_this_date",
            )
            .orderBy("calendar_date")
        )

    def clinical_course(self) -> DataFrame:
        """#ClinicalCourse: per days_since_admission, patients still in
        hospital (all / ever-severe).

        "Still in hospital at day d" means los >= d, so the per-day count
        is the REVERSE running sum of the per-los group counts — one
        bounded-key aggregation (key space = distinct lengths of stay)
        plus one tiny window, replacing the previous broadcast-days
        nested-loop membership join (O(|cohort| x max_los) comparisons).
        Day axis [0, max_los] is dense: every day has >= 1 patient (the
        max-los stay), matching the old inner join's row set exactly.
        """
        cohort = self.cohort().withColumn(
            "los", F.datediff("discharge_date", "admission_date")
        )
        days = cohort.agg(F.max("los").alias("max_los")).select(
            F.explode(F.sequence(F.lit(0), F.col("max_los"))).alias(
                "days_since_admission"
            )
        )
        per_los = (
            cohort.filter(F.col("los").isNotNull())
            .groupBy(F.col("los").alias("days_since_admission"))
            .agg(
                F.count("*").alias("__n"),
                F.sum((F.col("severe") == 1).cast("long")).alias("__n_sev"),
            )
        )
        w_rev = Window.orderBy("days_since_admission").rowsBetween(
            Window.currentRow, Window.unboundedFollowing
        )
        return (
            days.join(per_los, "days_since_admission", "left")
            .na.fill(0, ["__n", "__n_sev"])
            .select(
                "days_since_admission",
                F.sum("__n").over(w_rev).alias(
                    "num_patients_all_still_in_hospital"
                ),
                F.sum("__n_sev").over(w_rev).alias(
                    "num_patients_ever_severe_still_in_hospital"
                ),
            )
            .select(
                F.lit(self.cfg.siteid).alias("siteid"),
                "days_since_admission",
                "num_patients_all_still_in_hospital",
                "num_patients_ever_severe_still_in_hospital",
            )
            .orderBy("days_since_admission")
        )

    def demographics(self) -> DataFrame:
        """#Demographics: counts by sex × age_group × race with 'all'
        margin rows (A9) — the reference UNION-ALLs per-granularity
        group-bys (~L650-740 reconstructed); one CUBE emits every margin
        in a single shuffle."""
        cohort = self.cohort().select(
            "patient_num",
            "severe",
            F.col("sex_cd").alias("sex"),
            age_group("age_in_years_num").alias("age_group"),
            F.col("race_cd").alias("race"),
        )
        # cohort is one row per patient, so COUNT(DISTINCT patient_num)
        # == COUNT(*) within every cube cell — the count/sum form avoids
        # the distinct-aggregate Expand (3x the input) at cohort scale
        cubed = cohort.cube("sex", "age_group", "race").agg(
            F.count("*").alias("num_patients_all"),
            F.sum((F.col("severe") == 1).cast("long")).alias(
                "num_patients_ever_severe"
            ),
        )
        out = cubed
        for c in ("sex", "age_group", "race"):
            out = out.withColumn(c, F.coalesce(F.col(c), F.lit("all")))
        return out.select(
            F.lit(self.cfg.siteid).alias("siteid"),
            "sex",
            "age_group",
            "race",
            "num_patients_all",
            "num_patients_ever_severe",
        ).orderBy("sex", "age_group", "race")

    def labs(self) -> DataFrame:
        """#Labs: per (loinc, days_since_admission) — patient counts and
        value/log-value moments, all vs ever-severe (A4-A8, F12, F16).

        Two-level (A7): one mean per patient-day first so multi-draw
        patients don't dominate; per-patient-day means are rounded
        decimals, so the second level sums are order-independent
        (DuckDB-parity, SURVEY.md hard-parts list)."""
        labs = self.obs.join(F.broadcast(self.lab_map()), "concept_cd").filter(
            F.col("nval_num").isNotNull()
        )
        cohort = self.cohort().select(
            "patient_num", "admission_date", "severe"
        )
        joined = labs.join(cohort, "patient_num").withColumn(
            "days_since_admission",
            F.datediff("start_date", "admission_date"),
        )
        scaled = joined.withColumn(
            "val", (F.col("nval_num") * F.col("scale_factor")).cast(DEC)
        )
        per_pat_day = scaled.groupBy(
            "loinc", "days_since_admission", "patient_num", "severe"
        ).agg(
            round6(F.sum("val").cast("double") / F.count("val"))
            .cast(DEC_LOG)
            .alias("pval")
        ).withColumn(
            "lval", round6(F.log(F.col("pval") + F.lit(0.5))).cast(DEC_LOG)
        )
        sev = F.col("severe") == 1
        # per_pat_day is unique on (loinc, day, patient): distinct patient
        # counts reduce to plain counts — no Expand over the lab frame
        return (
            per_pat_day.groupBy("loinc", "days_since_admission")
            .agg(
                F.count("patient_num").alias("num_patients_all"),
                _dmean_cond(F.col("pval"), F.lit(True), "mean_value_all"),
                _dstd_cond(F.col("pval"), F.lit(True), "stdev_value_all"),
                _dmean_cond(F.col("lval"), F.lit(True), "mean_log_value_all"),
                _dstd_cond(F.col("lval"), F.lit(True), "stdev_log_value_all"),
                F.count(F.when(sev, F.col("patient_num"))).alias(
                    "num_patients_ever_severe"
                ),
                _dmean_cond(F.col("pval"), sev, "mean_value_ever_severe"),
                _dstd_cond(F.col("pval"), sev, "stdev_value_ever_severe"),
                _dmean_cond(F.col("lval"), sev, "mean_log_value_ever_severe"),
                _dstd_cond(F.col("lval"), sev, "stdev_log_value_ever_severe"),
            )
            .select(
                F.lit(self.cfg.siteid).alias("siteid"),
                "loinc",
                "days_since_admission",
                "num_patients_all",
                "mean_value_all",
                "stdev_value_all",
                "mean_log_value_all",
                "stdev_log_value_all",
                "num_patients_ever_severe",
                "mean_value_ever_severe",
                "stdev_value_ever_severe",
                "mean_log_value_ever_severe",
                "stdev_log_value_ever_severe",
            )
            .orderBy("loinc", "days_since_admission")
        )

    def _before_since(self, coded: DataFrame, axis_cols: list[str]) -> DataFrame:
        """Shared Diagnoses/Medications shape: distinct patients per code
        in the before-admission vs since-admission windows, all vs
        ever-severe (A8 conditional distinct counts).

        Planned as a TWO-LEVEL aggregate, not four COUNT DISTINCTs in one
        agg: four distinct expressions make Spark Expand every fact row
        4x before the shuffle.  Level 1 collapses to one row per
        (axis, patient) with boolean window flags (map-side partials on
        the fact side — the 100 TB shuffle is the deduped patient frame);
        level 2 sums the flags over the tiny axis key.  Identical values,
        COUNT(DISTINCT CASE WHEN ...) in the oracle unchanged."""
        b_lo, b_hi = self.cfg.before_window
        s_lo, s_hi = self.cfg.since_window
        cohort = self.cohort().select("patient_num", "admission_date", "severe")
        joined = coded.join(cohort, "patient_num").withColumn(
            "delta", F.datediff("start_date", "admission_date")
        )
        before = F.col("delta").between(b_lo, b_hi)
        since = F.col("delta").between(s_lo, s_hi)
        sev = F.col("severe") == 1
        per_patient = (
            joined.filter(before | since)
            .groupBy(*axis_cols, "patient_num")
            .agg(
                F.max(before.cast("int")).alias("__b"),
                F.max(since.cast("int")).alias("__s"),
                F.max((before & sev).cast("int")).alias("__bs"),
                F.max((since & sev).cast("int")).alias("__ss"),
            )
        )
        return per_patient.groupBy(*axis_cols).agg(
            F.sum("__b").alias("num_patients_all_before_admission"),
            F.sum("__s").alias("num_patients_all_since_admission"),
            F.sum("__bs").alias("num_patients_ever_severe_before_admission"),
            F.sum("__ss").alias("num_patients_ever_severe_since_admission"),
        )

    def diagnoses(self) -> DataFrame:
        """#Diagnoses: 3-char ICD rollup (F6/F8), before vs since
        admission (~L800-860 reconstructed)."""
        frames = []
        for prefix in self.cfg.icd_prefixes:
            version = 10 if "10" in prefix else 9
            frames.append(
                self.obs.filter(F.col("concept_cd").startswith(prefix)).select(
                    "patient_num",
                    "start_date",
                    icd_3chars("concept_cd", prefix).alias("icd_code_3chars"),
                    F.lit(version).alias("icd_version"),
                )
            )
        coded = frames[0]
        for f in frames[1:]:
            coded = coded.unionByName(f)
        out = self._before_since(coded, ["icd_code_3chars", "icd_version"])
        return out.select(
            F.lit(self.cfg.siteid).alias("siteid"),
            "icd_code_3chars",
            "icd_version",
            "num_patients_all_before_admission",
            "num_patients_all_since_admission",
            "num_patients_ever_severe_before_admission",
            "num_patients_ever_severe_since_admission",
        ).orderBy("icd_code_3chars", "icd_version")

    def medications(self) -> DataFrame:
        """#Medications: per med class (broadcast code-map join J2),
        before vs since admission (~L860-920 reconstructed)."""
        coded = self.obs.join(F.broadcast(self.med_map()), "concept_cd").select(
            "patient_num", "start_date", "med_class"
        )
        out = self._before_since(coded, ["med_class"])
        return out.select(
            F.lit(self.cfg.siteid).alias("siteid"),
            "med_class",
            "num_patients_all_before_admission",
            "num_patients_all_since_admission",
            "num_patients_ever_severe_before_admission",
            "num_patients_ever_severe_since_admission",
        ).orderBy("med_class")

    # -- pipeline 3: obfuscation + export (~L920-1100) -----------------------

    COUNT_COLS: dict[str, list[str]] = {
        "DailyCounts": [
            "cumulative_patients_all",
            "cumulative_patients_severe",
            "cumulative_patients_dead",
            "num_patients_in_hospital_on_this_date",
            "num_patients_in_hospital_and_severe_on_this_date",
        ],
        "ClinicalCourse": [
            "num_patients_all_still_in_hospital",
            "num_patients_ever_severe_still_in_hospital",
        ],
        "Demographics": ["num_patients_all", "num_patients_ever_severe"],
        "Labs": ["num_patients_all", "num_patients_ever_severe"],
        "Diagnoses": [
            "num_patients_all_before_admission",
            "num_patients_all_since_admission",
            "num_patients_ever_severe_before_admission",
            "num_patients_ever_severe_since_admission",
        ],
        "Medications": [
            "num_patients_all_before_admission",
            "num_patients_all_since_admission",
            "num_patients_ever_severe_before_admission",
            "num_patients_ever_severe_since_admission",
        ],
    }

    KEY_COLS: dict[str, list[str]] = {
        "DailyCounts": ["calendar_date"],
        "ClinicalCourse": ["days_since_admission"],
        "Demographics": ["sex", "age_group", "race"],
        "Labs": ["loinc", "days_since_admission"],
        "Diagnoses": ["icd_code_3chars", "icd_version"],
        "Medications": ["med_class"],
    }

    def artifact(self, name: str) -> DataFrame:
        """The lazy plan of one artifact (a ``KEY_COLS`` name), obfuscated
        when the config asks for it."""
        build = {
            "DailyCounts": self.daily_counts,
            "ClinicalCourse": self.clinical_course,
            "Demographics": self.demographics,
            "Labs": self.labs,
            "Diagnoses": self.diagnoses,
            "Medications": self.medications,
        }[name]
        df = build()
        if self.cfg.obfuscation is not None:
            df = obfuscate_counts(
                df, self.COUNT_COLS[name], self.KEY_COLS[name], self.cfg.obfuscation
            )
        return df

    def all_artifacts(self) -> dict[str, DataFrame]:
        return {name: self.artifact(name) for name in self.KEY_COLS}

    def export(self, out_dir: str, single_file: bool = True) -> None:
        """S4: ordered CSV per artifact, the six written concurrently.

        The cohort is materialized first, on the calling thread, so its
        caches (concept events, admissions, cohort) fill once and no
        writer thread races the memo in :meth:`cohort`.  Then each
        artifact is built and written on its own thread: plan building
        overlaps too, and each thread inherits the caller's local
        properties and tags (job group, description), so every job stays
        attributed to the caller.  All threads are waited for; the first
        failure in artifact order is then re-raised, so ``export`` never
        returns while a writer is still running.

        Why this holds at 100 TB: under the default FIFO scheduler each
        artifact's big stages still fan out over the whole cluster; the
        concurrency only fills the slots a sequential driver leaves idle
        (the single-task sort/write tail of each ``coalesce(1)`` CSV and
        the driver's planning gaps between jobs)."""
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        from covid19i2b2_spark.sources.sinks import write_csv

        def write(name: str) -> None:
            write_csv(
                self.artifact(name),
                f"{out_dir}/{name}",
                order_by=self.KEY_COLS[name],
                single_file=single_file,
            )

        self.cohort().count()
        with ThreadPoolExecutor(
            len(self.KEY_COLS), thread_name_prefix="covid-export"
        ) as pool:
            # wrapped once per artifact: each thread gets its own copy of
            # the caller's local properties (Spark SQL sets its execution
            # id there, so threads must not share one Properties object)
            futures = [
                pool.submit(inheritable_thread_target(self.spark)(write), name)
                for name in self.KEY_COLS
            ]
        for future in futures:
            future.result()

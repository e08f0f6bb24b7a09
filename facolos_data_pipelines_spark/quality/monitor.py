"""Cycle monitoring — SURVEY.md §2.4 A7 and the §5 ops-level gates.

The reference's ProductionMonitor keeps per-cycle metrics in a Python
deque on the scheduler and alerts on thresholds
(src/monitoring/production_monitor.py:39-125): duration over budget,
>=3 consecutive failures, >=5 no-data cycles, rolling success < 80%.
Here the cycle rows derive from the pipeline runner's ``batch_runs``
log (:func:`cycles_from_runs`) and every check is a window/agg query —
the monitor state survives driver restarts and is itself queryable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame

# One row per pipeline cycle — the reference's metrics dict
# (production_monitor.py:43-62).
CYCLE_METRICS_SCHEMA = T.StructType(
    [
        T.StructField("cycle_id", T.StringType()),
        T.StructField("started_at", T.TimestampType()),
        T.StructField("duration_seconds", T.DoubleType()),
        T.StructField("records_processed", T.LongType()),
        T.StructField("success", T.BooleanType()),
    ]
)


def cycles_from_runs(batch_runs: DataFrame) -> DataFrame:
    """One CYCLE_METRICS_SCHEMA row per runner cycle, derived from the
    runner's ``batch_runs`` log (one row per endpoint run, all sharing
    the cycle's ``batch_id`` and start): the cycle starts at its first
    ``started_at``, lasts until its last ``finished_at``, processed the
    summed ``records_loaded`` and succeeded iff no endpoint ``failed``
    (a ``skipped_not_due`` row is a 0-record run, not a failure, so a
    cycle where no source was due is a successful no-data cycle).
    One lazy groupBy — the cycle rows are never stored twice."""
    return batch_runs.groupBy("batch_id").agg(
        F.min("started_at").alias("started_at"),
        (
            (F.unix_micros(F.max("finished_at")) - F.unix_micros(F.min("started_at")))
            / 1e6
        ).alias("duration_seconds"),
        F.sum("records_loaded").cast("long").alias("records_processed"),
        F.bool_and(F.col("status") != "failed").alias("success"),
    ).select(
        F.col("batch_id").alias("cycle_id"),
        "started_at",
        "duration_seconds",
        "records_processed",
        "success",
    )


def cycle_summary(metrics: DataFrame, last_n: int = 10) -> DataFrame:
    """A7 — rolling stats over the last N cycles: avg duration, total
    records, success rate (production_monitor.py:114-121, 201-230).

    "Last N" selection is ``orderBy().limit()`` — compiles to
    TakeOrderedAndProject (per-partition N-heaps), not the global
    row_number window that moved the whole table to one partition.
    cycle_id breaks started_at ties so the selected set (and every
    stat over it) is deterministic under concurrent cycles."""
    recent = metrics.orderBy(
        F.col("started_at").desc(), F.col("cycle_id").desc()
    ).limit(last_n)
    return recent.agg(
        F.count("*").cast("long").alias("cycles"),
        F.round(F.avg("duration_seconds"), 3).alias("avg_duration_seconds"),
        # total is a counter -> 0 on an empty registry; the avg and the
        # rate stay NULL there (an average over no cycles has no value)
        F.coalesce(F.sum("records_processed"), F.lit(0))
        .cast("long")
        .alias("total_records"),
        F.round(
            F.sum(F.when(F.col("success"), 1).otherwise(0)) / F.count("*") * 100, 2
        ).alias("success_rate_pct"),
    )


def alert_conditions(
    metrics: DataFrame,
    max_duration_seconds: float = 600.0,
    max_consecutive_failures: int = 3,
    max_no_data_cycles: int = 5,
    min_success_rate_pct: float = 80.0,
    last_n: int = 10,
) -> DataFrame:
    """The reference's four alert rules as one single-row frame of
    booleans (production_monitor.py:84-125; thresholds from
    config/production.py:37-39). Consecutive counters are "cycles
    strictly after the most recent success / with-data cycle" — one
    aggregate pass computes the boundary cycle and a second
    conditional-sum pass counts past it; no global window, no
    single-partition sort.

    Cycle ordering is the (started_at, cycle_id) tuple — cycle_id
    breaks started_at ties deterministically, so concurrent cycles
    sharing a timestamp never hide a trailing failure run.
    CYCLE_METRICS_SCHEMA contract: started_at must be non-null (a null
    started_at row has no position in the cycle order and is excluded
    from the consecutive counters)."""
    _key = F.struct(F.col("started_at"), F.col("cycle_id"))
    bounds = metrics.agg(
        F.max(F.when(F.col("success"), _key)).alias("_last_success"),
        F.max(F.when(F.col("records_processed") > 0, _key)).alias("_last_data"),
    ).collect()[0]

    def _after(boundary) -> "F.Column":
        # no success / no data yet -> every cycle counts
        if boundary is None:
            return F.lit(True)
        return _key > F.struct(
            F.lit(boundary["started_at"]).alias("started_at"),
            F.lit(boundary["cycle_id"]).alias("cycle_id"),
        )

    cf_cond = _after(bounds["_last_success"])
    nd_cond = _after(bounds["_last_data"])
    after = metrics.agg(
        F.sum(cf_cond.cast("int")).alias("_cf"),
        F.sum(nd_cond.cast("int")).alias("_nd"),
    ).collect()[0]
    consecutive_failures = after["_cf"] or 0
    no_data_cycles = after["_nd"] or 0

    summary = cycle_summary(metrics, last_n).collect()[0]
    latest = (
        metrics.orderBy(F.col("started_at").desc())
        .limit(1)
        .select("duration_seconds")
        .collect()
    )
    latest_duration = latest[0][0] if latest else 0.0

    spark = metrics.sparkSession
    row = [
        (
            float(latest_duration),
            bool(latest_duration > max_duration_seconds),
            int(consecutive_failures),
            bool(consecutive_failures >= max_consecutive_failures),
            int(no_data_cycles),
            bool(no_data_cycles >= max_no_data_cycles),
            float(summary["success_rate_pct"] or 0.0),
            bool((summary["success_rate_pct"] or 0.0) < min_success_rate_pct),
        )
    ]
    schema = T.StructType(
        [
            T.StructField("latest_duration_seconds", T.DoubleType()),
            T.StructField("duration_alert", T.BooleanType()),
            T.StructField("consecutive_failures", T.IntegerType()),
            T.StructField("failure_alert", T.BooleanType()),
            T.StructField("no_data_cycles", T.IntegerType()),
            T.StructField("no_data_alert", T.BooleanType()),
            T.StructField("success_rate_pct", T.DoubleType()),
            T.StructField("success_rate_alert", T.BooleanType()),
        ]
    )
    return local_frame(spark, row, schema)


def schedule_accuracy(
    metrics: DataFrame,
    target_interval_minutes: float = 15.0,
    last_n: int = 5,
    tolerance_pct: float = 5.0,
) -> DataFrame:
    """Schedule-accuracy verification — the reference's 15-minute DAG
    cadence check (monitor_airflow_production.py:82-114): mean interval
    between consecutive cycle starts over the last N cycles, accurate
    iff the deviation from the target is under ``tolerance_pct``.

    One row out: target/actual interval, accuracy percentage
    (100 - deviation%), schedule_accurate, n_intervals. The mean of
    consecutive start intervals TELESCOPES to
    ``(max_start - min_start) / (n - 1)``, so after the TakeOrdered
    top-N cut this is a plain aggregate — no window at all (the lag
    formulation needed a single-partition WindowExec; min/max/count
    map-side-combine instead and produce bit-identical values, whole
    unix seconds divided by 60 ONCE after averaging, so an external
    SQL oracle reproduces it exactly). Fewer than 2 cycles ->
    n_intervals=0 and NULL accuracy (the reference returns an error
    dict there). cycle_id tie-breaks the top-N cut, so tied
    timestamps can't flip the interval set between runs (min/max of
    the cut are order-insensitive). Counts are over ``started_at``
    itself (not ``count(*)``), so NULL-started rows in the cut are
    excluded from the interval math exactly like the lag
    formulation, which produced NULL intervals for them and
    filtered them out."""
    recent = metrics.orderBy(
        F.col("started_at").desc(), F.col("cycle_id").desc()
    ).limit(last_n)
    n_started = F.count("started_at")
    agg = recent.agg(
        F.greatest(n_started - 1, F.lit(0)).cast("long").alias("n_intervals"),
        (
            (
                F.max(F.unix_timestamp("started_at"))
                - F.min(F.unix_timestamp("started_at"))
            )
            / F.when(n_started > 1, n_started - 1)
        ).alias("_avg_s"),
    )
    avg_min = F.col("_avg_s") / 60.0
    deviation = F.abs(avg_min - target_interval_minutes) / target_interval_minutes * 100.0
    return agg.select(
        F.lit(float(target_interval_minutes)).alias("target_interval_minutes"),
        F.round(avg_min + 1e-6, 2).alias("actual_avg_interval_minutes"),
        F.round((100.0 - deviation) + 1e-6, 2).alias("accuracy_percentage"),
        F.when(F.col("n_intervals") > 0, deviation < tolerance_pct).alias(
            "schedule_accurate"
        ),
        F.col("n_intervals"),
    )


def health_score(report: DataFrame) -> DataFrame:
    """Overall health score — the reference's production rubric
    (monitor_airflow_production.py:274-309) over a one-row component
    frame with columns ``dag_active`` (bool), ``success_rate_pct``
    (double, 0-100), ``schedule_accurate`` (bool),
    ``data_integrity_score`` (double, 0-100), ``dedup_working`` (bool):

    - DAG active (not paused): 20 points
    - recent-run success rate: up to 30 points (rate * 30)
    - schedule accurate (±5%): 20 points
    - data integrity >= 80: 20 points
    - deduplication working: 10 points

    Adds ``health_score`` (0-100) and the reference's log-banding as
    ``health_band``: excellent >= 90, good >= 80, warning >= 70, else
    critical. NULL components score 0 (fail-closed), matching the
    reference's .get(...) defaults."""
    score = (
        F.when(F.col("dag_active"), F.lit(20.0)).otherwise(0.0)
        + F.coalesce(F.col("success_rate_pct"), F.lit(0.0)) / 100.0 * 30.0
        + F.when(F.col("schedule_accurate"), F.lit(20.0)).otherwise(0.0)
        + F.when(F.col("data_integrity_score") >= 80.0, F.lit(20.0)).otherwise(0.0)
        + F.when(F.col("dedup_working"), F.lit(10.0)).otherwise(0.0)
    )
    scored = report.withColumn("health_score", F.round(score + 1e-6, 2))
    return scored.withColumn(
        "health_band",
        F.when(F.col("health_score") >= 90, "excellent")
        .when(F.col("health_score") >= 80, "good")
        .when(F.col("health_score") >= 70, "warning")
        .otherwise("critical"),
    )


def production_health(
    metrics: DataFrame,
    table_summary: DataFrame,
    target_interval_minutes: float = 15.0,
    dag_active: bool = True,
    dedup_working: bool = True,
    last_n: int = 10,
) -> DataFrame:
    """Compose the full production health report (the reference's
    generate_production_report): success rate from the last N cycles,
    schedule accuracy, data-integrity score = % of staging tables with
    data (monitor_airflow_production.py:154-158), plus the
    caller-supplied DAG/dedup verification flags, scored by
    :func:`health_score`. All inputs are tiny metric frames — the
    crossJoins below are 1x1 row joins, not data joins."""
    sched = schedule_accuracy(metrics, target_interval_minutes, last_n=5)
    summ = cycle_summary(metrics, last_n)
    integ = table_summary.agg(
        (
            F.sum(F.when(F.col("records") > 0, 1).otherwise(0))
            / F.count("*")
            * 100.0
        ).alias("data_integrity_score")
    )
    report = (
        summ.select("success_rate_pct")
        .crossJoin(sched.select("schedule_accurate", "actual_avg_interval_minutes"))
        .crossJoin(integ)
        .withColumn("dag_active", F.lit(bool(dag_active)))
        .withColumn("dedup_working", F.lit(bool(dedup_working)))
    )
    return health_score(report)


"""Cycle monitoring (A7 + ops gates): rolling stats and alert rules."""

import datetime as dt

from facolos_data_pipelines_spark.quality.monitor import (
    CYCLE_METRICS_SCHEMA,
    alert_conditions,
    cycle_summary,
    health_score,
    production_health,
    schedule_accuracy,
)


def _metrics(spark, rows):
    data = [
        (f"c{i}", dt.datetime(2024, 1, 1) + dt.timedelta(minutes=10 * i), dur, rec, ok)
        for i, (dur, rec, ok) in enumerate(rows)
    ]
    return spark.createDataFrame(data, CYCLE_METRICS_SCHEMA)


def test_cycle_summary_rolling(spark):
    m = _metrics(spark, [(60.0, 100, True)] * 8 + [(120.0, 0, False)] * 2)
    s = cycle_summary(m, last_n=10).collect()[0]
    assert s["cycles"] == 10
    assert s["success_rate_pct"] == 80.0
    assert s["total_records"] == 800
    assert s["avg_duration_seconds"] == 72.0


def test_alerts_all_clear(spark):
    m = _metrics(spark, [(60.0, 100, True)] * 10)
    a = alert_conditions(m).collect()[0]
    assert not any(
        a[k] for k in ["duration_alert", "failure_alert", "no_data_alert", "success_rate_alert"]
    )
    assert a["consecutive_failures"] == 0


def test_alerts_fire_on_failure_streak_and_no_data(spark):
    # 6 good cycles then 4 failing empty ones (latest last)
    m = _metrics(spark, [(60.0, 100, True)] * 6 + [(700.0, 0, False)] * 4)
    a = alert_conditions(m).collect()[0]
    assert a["consecutive_failures"] == 4 and a["failure_alert"]
    assert a["no_data_cycles"] == 4  # < 5 -> no alert yet
    assert not a["no_data_alert"]
    assert a["duration_alert"]  # latest cycle 700s > 600s budget
    assert a["success_rate_pct"] == 60.0 and a["success_rate_alert"]


def test_alerts_count_failures_on_timestamp_ties(spark):
    """Cycles sharing started_at with the last success must still count
    (tie broken by cycle_id): c1 success, c2/c3 fail at the SAME ts."""
    ts = dt.datetime(2024, 1, 1, 12)
    m = spark.createDataFrame(
        [("c1", ts, 10.0, 100, True), ("c2", ts, 10.0, 0, False), ("c3", ts, 10.0, 0, False)],
        CYCLE_METRICS_SCHEMA,
    )
    a = alert_conditions(m).collect()[0]
    assert a["consecutive_failures"] == 2
    assert a["no_data_cycles"] == 2


def test_schedule_accuracy_within_and_out_of_tolerance(spark):
    # exact 10-minute cadence vs a 10-minute target: accurate
    m = _metrics(spark, [(60.0, 100, True)] * 6)
    s = schedule_accuracy(m, target_interval_minutes=10.0, last_n=5).collect()[0]
    assert s["n_intervals"] == 4
    assert s["actual_avg_interval_minutes"] == 10.0
    assert s["accuracy_percentage"] == 100.0
    assert s["schedule_accurate"]
    # same cadence vs a 15-minute target: 33% off -> inaccurate
    s2 = schedule_accuracy(m, target_interval_minutes=15.0, last_n=5).collect()[0]
    assert not s2["schedule_accurate"]
    assert s2["accuracy_percentage"] < 95.0
    # a single cycle has no intervals -> NULL verdict
    one = _metrics(spark, [(60.0, 100, True)])
    s3 = schedule_accuracy(one, target_interval_minutes=10.0).collect()[0]
    assert s3["n_intervals"] == 0 and s3["schedule_accurate"] is None


def test_health_score_rubric_bands(spark):
    rows = [
        # all green -> 100 excellent
        (True, 100.0, True, 100.0, True, 100.0, "excellent"),
        # paused DAG drops 20 -> 80 good
        (False, 100.0, True, 100.0, True, 80.0, "good"),
        # 60% success rate -> 18 of 30 -> 88 good
        (True, 60.0, True, 100.0, True, 88.0, "good"),
        # integrity below 80 scores zero; 50% success -> 20+15+20+0+10 = 65 critical
        (True, 50.0, True, 70.0, True, 65.0, "critical"),
        # schedule off + no dedup -> 70 warning
        (True, 100.0, False, 100.0, False, 70.0, "warning"),
    ]
    df = spark.createDataFrame(
        [(r[0], r[1], r[2], r[3], r[4]) for r in rows],
        "dag_active boolean, success_rate_pct double, schedule_accurate boolean, "
        "data_integrity_score double, dedup_working boolean",
    )
    out = health_score(df).collect()
    for got, exp in zip(out, rows):
        assert got["health_score"] == exp[5]
        assert got["health_band"] == exp[6]


def test_production_health_composes(spark):
    from facolos_data_pipelines_spark.quality.checks import multi_table_summary

    m = _metrics(spark, [(60.0, 100, True)] * 10)
    tables = {
        "a": spark.range(5),
        "b": spark.range(3),
        "c": spark.range(0),  # empty -> integrity 2/3
    }
    report = production_health(
        m, multi_table_summary(tables), target_interval_minutes=10.0
    ).collect()[0]
    # success 100 (30) + dag 20 + schedule 20 + dedup 10; integrity 66.7 < 80 -> 0
    assert report["health_score"] == 80.0
    assert report["health_band"] == "good"
    assert report["schedule_accurate"]


def test_cycle_summary_empty_registry(spark):
    """First deploy, no cycles recorded yet: total_records is the
    counter (0, not NULL); the average and rate stay NULL — an average
    over no cycles has no honest value (round-9 quiet-day contract)."""
    s = cycle_summary(_metrics(spark, []), last_n=10).collect()[0]
    assert s["cycles"] == 0
    assert s["total_records"] == 0
    assert s["avg_duration_seconds"] is None
    assert s["success_rate_pct"] is None

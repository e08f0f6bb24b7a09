"""Tests for the stats/quality layer (A1-A9, §5 gates)."""

import datetime as dt

import pytest

from pyspark.sql import functions as F

from facolos_data_pipelines_spark.operators.incremental import (
    lookback_filter,
    negative_count,
    not_null_filter,
    status_filter,
    time_range_filter,
)
from facolos_data_pipelines_spark.quality import (
    gate_report,
    multi_table_summary,
    quality_gate,
    table_stats,
    validate_post_load,
    validate_pre_load,
)


def test_table_stats(spark):
    df = spark.createDataFrame(
        [
            ("o1", dt.datetime(2024, 1, 1), "b1"),
            ("o1", dt.datetime(2024, 1, 2), "b1"),
            ("o2", dt.datetime(2024, 1, 3), "b2"),
        ],
        "order_id string, etl_created_at timestamp, etl_batch_id string",
    )
    row = table_stats(df, key_col="order_id", ts_col="etl_created_at").first()
    assert row["total_rows"] == 3
    assert row["unique_keys"] == 2
    assert row["total_batches"] == 2
    assert row["earliest"] == dt.datetime(2024, 1, 1)
    assert row["latest"] == dt.datetime(2024, 1, 3)


def test_multi_table_summary_and_gate(spark):
    tables = {
        f"t{i}": spark.range(n).toDF("x")
        for i, n in enumerate([10, 5, 3, 2, 1, 0])
    }
    summary = multi_table_summary(tables)
    assert summary.count() == 6
    gate = quality_gate(summary, min_tables_with_data=5).first()
    assert gate["tables_with_data"] == 5
    assert gate["total_records"] == 21
    assert gate["passed"]
    assert abs(gate["quality_score"] - 83.333) < 0.01
    assert gate_report(tables, 5) == {
        "tables_with_data": 5,
        "total_tables": 6,
        "total_records": 21,
        "quality_score": gate["quality_score"],
        "passed": True,
    }


def test_multi_table_summary_rejects_empty_input(spark):
    with pytest.raises(ValueError, match="empty tables"):
        multi_table_summary({})
    assert gate_report({}, 5) == {
        "tables_with_data": 0,
        "total_tables": 0,
        "total_records": 0,
        "quality_score": 0.0,
        "passed": False,
    }


def test_validate_pre_load(spark):
    df = spark.createDataFrame(
        [("o1", 1, "b"), (None, -2, "b")],
        "order_id string, item_quantity int, etl_batch_id string",
    )
    row = validate_pre_load(
        df, ["order_id", "etl_batch_id"], pk_col="order_id", quantity_col="item_quantity"
    ).first()
    assert row["null_pk_rows"] == 1 and row["negative_quantity_rows"] == 1
    try:
        validate_pre_load(df, ["missing_col"])
        raise AssertionError("should have raised")
    except ValueError:
        pass


def test_validate_post_load(spark):
    df = spark.createDataFrame(
        [(1, dt.datetime.utcnow())], "pk long, etl_created_at timestamp"
    )
    row = validate_post_load(df, expected_min_rows=1).first()
    assert row["count_ok"] and row["fresh"]


def test_lookback_filter_keeps_nulls(spark):
    df = spark.createDataFrame(
        [("2024-06-01T12:00:00Z",), (None,), ("garbage",), ("2020-01-01T00:00:00Z",)],
        "modified_date string",
    )
    out = lookback_filter(df, "modified_date", dt.datetime(2024, 6, 1)).collect()
    vals = {r["modified_date"] for r in out}
    # recent kept, NULL kept, unparseable kept (inclusive-on-error), stale dropped
    assert vals == {"2024-06-01T12:00:00Z", None, "garbage"}


def test_simple_filters(spark):
    df = spark.createDataFrame(
        [(1, "A", 5.0), (2, "B", -1.0), (3, None, 2.0)],
        "create_time long, order_status string, value double",
    )
    assert time_range_filter(df, "create_time", 1, 2).count() == 2
    assert status_filter(df, "order_status", "A").count() == 1
    assert status_filter(df, "order_status", None).count() == 3
    assert not_null_filter(df, "order_status").count() == 2
    assert negative_count(df, "value").first()["negative_rows"] == 1


def test_column_profile_numeric_and_string(spark):
    from facolos_data_pipelines_spark.quality import column_profile

    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, None), (4, None, "a")],
        ["k", "v", "s"],
    )
    out = {
        r["column_name"]: r for r in column_profile(df, exact_distinct=True).collect()
    }
    assert out["k"]["n_rows"] == 4 and out["k"]["n_null"] == 0
    assert out["k"]["n_distinct"] == 4
    assert out["k"]["min_value"] == 1.0 and out["k"]["max_value"] == 4.0
    assert out["k"]["p50"] == 2.5  # exact interpolated median of 1,2,3,4
    assert out["v"]["n_null"] == 1 and out["v"]["p50"] == 20.0
    # string column: distinct/null real, numeric stats NULL
    assert out["s"]["n_distinct"] == 2 and out["s"]["n_null"] == 1
    assert out["s"]["min_value"] is None and out["s"]["p25"] is None
    # approx mode (the default) still returns a sane distinct count
    approx = {r["column_name"]: r for r in column_profile(df).collect()}
    assert approx["k"]["n_distinct"] >= 3


def test_column_profile_approx_percentiles(spark):
    """The fully-approx 100 TB shape (approx_percentiles=True): GK
    sketch quartiles are actual column values, rank-monotone, inside
    [min, max]; at accuracy 10000 on a tiny frame they are exact
    discrete percentiles. Exact counts/min/max are unchanged."""
    from facolos_data_pipelines_spark.quality import column_profile

    df = spark.createDataFrame(
        [(float(i),) for i in range(1, 101)] + [(None,)], ["v"]
    )
    out = column_profile(df, ["v"], approx_percentiles=True).collect()[0]
    assert out["n_rows"] == 101 and out["n_null"] == 1
    assert out["min_value"] == 1.0 and out["max_value"] == 100.0
    assert out["p25"] <= out["p50"] <= out["p75"]
    assert out["min_value"] <= out["p25"] and out["p75"] <= out["max_value"]
    # discrete values from the data, near the exact interpolated points
    assert out["p50"] in (50.0, 51.0)
    assert abs(out["p25"] - 25.75) <= 1.0 and abs(out["p75"] - 75.25) <= 1.0
    # non-numeric columns keep NULL sketch outputs
    s = spark.createDataFrame([("a",), ("b",)], ["s"])
    srow = column_profile(s, ["s"], approx_percentiles=True).collect()[0]
    assert srow["p25"] is None and srow["p75"] is None


def test_snapshot_drift_flags(spark):
    from facolos_data_pipelines_spark.quality.checks import snapshot_drift

    a = spark.createDataFrame(
        [(1, 10.0, "x"), (2, 12.0, "y"), (3, 11.0, None)], ["id", "v", "s"]
    )
    b = spark.createDataFrame(
        [(4, 30.0, "x"), (5, 32.0, None), (6, None, None)], ["id", "v", "s"]
    )
    out = {r["column_name"]: r for r in snapshot_drift(a, b, ["v", "s"]).collect()}
    v = out["v"]
    assert v["n_rows_a"] == 3 and v["n_rows_b"] == 3
    assert v["n_null_a"] == 0 and v["n_null_b"] == 1
    assert v["mean_a"] == 11.0 and v["mean_b"] == 31.0
    assert v["mean_drift"]  # ~182% relative shift
    assert v["null_drift"]  # 0 -> 1/3
    s = out["s"]
    assert s["mean_a"] is None and not s["mean_drift"]  # non-numeric
    assert s["null_drift"]  # 1/3 -> 2/3


def test_c4_clean_line_and_doc_rules(spark):
    """Every C4 rule fires: short lines, missing terminal punct,
    javascript/brace tells drop at line level; lorem-ipsum and
    too-few-surviving-lines drop whole docs; surviving text is
    rebuilt from kept lines only."""
    from facolos_data_pipelines_spark.operators.text import c4_clean

    docs = [
        (1, 'Good first sentence here.\nAnother proper sentence!\nno punct line\nok'),
        (2, 'Enable javascript to view.\nThis page uses cookies fine.\nReal content sentence one.\nReal content sentence two.'),
        (3, 'function f() { return 1; }\nOnly one good sentence here.'),
        (4, 'Lorem ipsum dolor sit amet.\nA perfectly fine sentence.\nAnother fine sentence.'),
        (5, 'Tiny.\nAlso tiny.\nOk line but still tiny.'),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in c4_clean(df, min_words_per_line=3, min_lines=2).collect()}

    # doc 1: two good lines survive, short/unpunctuated lines dropped
    assert out[1]["n_lines_orig"] == 4 and out[1]["n_lines_kept"] == 2
    assert out[1]["text"] == "Good first sentence here.\nAnother proper sentence!"
    # doc 2: javascript line dropped, three clean lines survive
    assert out[2]["n_lines_kept"] == 3 and "javascript" not in out[2]["text"]
    # doc 3: brace line dropped -> only 1 surviving line -> doc dropped
    assert 3 not in out
    # doc 4: lorem ipsum kills the whole doc
    assert 4 not in out
    # doc 5: every line under 3 words except the last... "Ok line but still tiny." has 5 words
    assert out.get(5) is None or out[5]["n_lines_kept"] < 2 or 5 not in out

    with pytest.raises(ValueError, match="min_lines"):
        c4_clean(df, min_lines=0)


def test_empty_table_counters_are_zero_not_null(spark):
    """The quiet-day contract (round 9): counter-shaped quality checks
    over an EMPTY table emit 0, never NULL — a NULL poisons running
    totals and makes `== 0` gate predicates silently non-true."""
    from facolos_data_pipelines_spark.quality.checks import rows_last_hours

    empty = spark.createDataFrame(
        [], "create_time timestamp, order_status string, value double"
    )
    assert negative_count(empty, "value").first()["negative_rows"] == 0
    assert rows_last_hours(empty, "create_time").first()["recent_rows"] == 0


def test_robust_profile_known_values(spark):
    """Hand-computed MAD / quartile / Tukey-fence profile: group 'a'
    holds [1,2,3,4,100] -> q1=2, med=3, q3=4, IQR=2, fences [-1, 7],
    one outlier (100), MAD = median(|x-3|) = 1. NULLs carry no
    evidence: group 'b' has a NULL that must not count anywhere."""
    from facolos_data_pipelines_spark.quality.checks import robust_profile

    rows = [("a", v) for v in [1.0, 2.0, 3.0, 4.0, 100.0]] + [
        ("b", 10.0),
        ("b", 20.0),
        ("b", None),
    ]
    df = spark.createDataFrame(rows, "g string, value double")
    got = {r["g"]: r.asDict() for r in robust_profile(df, "value", ["g"]).collect()}
    a = got["a"]
    assert (a["n"], a["median"], a["q1"], a["q3"]) == (5, 3.0, 2.0, 4.0)
    assert a["mad"] == 1.0
    assert a["n_outliers"] == 1 and a["outlier_frac"] == 0.2
    b = got["b"]
    assert b["n"] == 2 and b["n_outliers"] == 0
    assert b["median"] == 15.0  # interpolated, NULL excluded

    # ungrouped path: one global row
    g = robust_profile(df, "value").collect()
    assert len(g) == 1 and g[0]["n"] == 7

    # approx path keeps the schema and the exact counts
    ap = {r["g"]: r.asDict() for r in robust_profile(df, "value", ["g"], approx=True).collect()}
    assert ap["a"]["n"] == 5 and set(ap["a"].keys()) == set(a.keys())


def test_robust_profile_resists_contamination(spark):
    """The point of the operator: 20% wild contamination moves the mean
    by orders of magnitude but the median/MAD profile barely moves."""
    from facolos_data_pipelines_spark.quality.checks import robust_profile

    clean = [("x", float(i % 10)) for i in range(40)]
    dirty = clean + [("x", 1e9)] * 10
    p_clean = robust_profile(
        spark.createDataFrame(clean, "g string, value double"), "value", ["g"]
    ).first()
    p_dirty = robust_profile(
        spark.createDataFrame(dirty, "g string, value double"), "value", ["g"]
    ).first()
    # mean shifts by ~2e8 under this contamination; the median shifts
    # within the clean data's own spread
    assert abs(p_dirty["median"] - p_clean["median"]) <= 2.0
    assert p_dirty["n_outliers"] == 10


def test_rolling_psi_drift_shift_detection(spark):
    """Day 2 repeats day 1's distribution (psi ~ 0); day 3 shifts it
    hard (psi large, flagged); day 5 follows a calendar gap and emits
    no row (no adjacent baseline). NULL values and NULL ts excluded."""
    from datetime import datetime

    from facolos_data_pipelines_spark.quality.checks import rolling_psi_drift

    rows = []
    # days 1 and 2: values 0..99 (identical histograms)
    for d in (1, 2):
        rows += [(datetime(2024, 3, d, 12), float(i)) for i in range(100)]
    # day 3: all mass in the top decile
    rows += [(datetime(2024, 3, 3, 12), 95.0 + (i % 5)) for i in range(100)]
    # day 5 (gap on day 4): same as day 1
    rows += [(datetime(2024, 3, 5, 12), float(i)) for i in range(100)]
    rows += [(datetime(2024, 3, 1, 1), None), (None, 50.0)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    got = {str(r["day"]): r.asDict() for r in rolling_psi_drift(df, "ts", "value").collect()}
    assert set(got) == {"2024-03-02", "2024-03-03"}  # day 5 has no baseline
    assert got["2024-03-02"]["psi"] < 0.01
    assert not got["2024-03-02"]["shifted"]
    assert got["2024-03-03"]["psi"] > 0.25 and got["2024-03-03"]["shifted"]
    assert got["2024-03-03"]["n_prev"] == 100 and got["2024-03-03"]["n_curr"] == 100


def test_hist_state_loop_equals_rolling_psi(spark, tmp_path):
    """The incremental drift loop's keystone contract: psi_from_
    hist_state over a state built under whole-window edges must EQUAL
    rolling_psi_drift of the same window, row for row — and the state
    must be buildable as an append-only parquet loop (bootstrap +
    per-day appends through disk, duplicates from a split append
    summing) without changing a single output value."""
    from datetime import datetime

    from facolos_data_pipelines_spark.quality.checks import (
        hist_edges,
        hist_state,
        psi_from_hist_state,
        rolling_psi_drift,
    )

    rows = []
    for d in (1, 2):
        rows += [(datetime(2024, 3, d, 12), float(i)) for i in range(100)]
    rows += [(datetime(2024, 3, 3, 12), 95.0 + (i % 5)) for i in range(100)]
    rows += [(datetime(2024, 3, 5, 12), float(i)) for i in range(100)]
    rows += [(datetime(2024, 3, 1, 1), None), (None, 50.0)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")

    want = sorted(
        tuple(r) for r in rolling_psi_drift(df, "ts", "value").collect()
    )

    # one-shot: whole window, whole-window edges
    edges = hist_edges(df, "value")
    got = sorted(
        tuple(r)
        for r in psi_from_hist_state(hist_state(df, "ts", "value", edges)).collect()
    )
    assert got == want and want

    # append-only loop through parquet: edges persisted once, day 1+2
    # bootstrap, then day 3 appended in two DISJOINT halves (duplicate
    # (day, bin) rows must sum), then day 5
    edges.write.parquet(str(tmp_path / "edges"))
    pinned = spark.read.parquet(str(tmp_path / "edges"))
    state_path = str(tmp_path / "state")
    boot = df.filter(F.col("ts") < "2024-03-03")
    hist_state(boot, "ts", "value", pinned).write.parquet(state_path)
    d3 = df.filter(
        (F.col("ts") >= "2024-03-03") & (F.col("ts") < "2024-03-04")
    )
    for half in (0, 1):
        hist_state(
            d3.filter(F.pmod(F.col("value").cast("int"), F.lit(2)) == half),
            "ts", "value", pinned,
        ).write.mode("append").parquet(state_path)
    hist_state(
        df.filter(F.col("ts") >= "2024-03-05"), "ts", "value", pinned
    ).write.mode("append").parquet(state_path)
    via_loop = sorted(
        tuple(r)
        for r in psi_from_hist_state(spark.read.parquet(state_path)).collect()
    )
    assert via_loop == want
    # the split-append day really did land as duplicate rows that sum
    state = spark.read.parquet(state_path)
    assert (
        state.groupBy("day", "bin").count().filter("count > 1").count() > 0
    )
    # an empty batch appends nothing and changes nothing
    hist_state(
        df.filter(F.lit(False)), "ts", "value", pinned
    ).write.mode("append").parquet(state_path)
    assert sorted(
        tuple(r)
        for r in psi_from_hist_state(spark.read.parquet(state_path)).collect()
    ) == want


def test_psi_from_hist_state_keeps_mass_on_mismatched_num_bins(spark):
    """A state built under a LARGER edge family than the caller's
    num_bins must not silently drop its upper bins: scoring a 20-bin
    state with the default num_bins=10 returns the same series as
    scoring it with the matching 20 (the scaffold unions observed
    bins), and the totals account for every row."""
    from datetime import datetime

    from facolos_data_pipelines_spark.quality.checks import (
        hist_edges,
        hist_state,
        psi_from_hist_state,
    )

    rows = []
    for d in (1, 2):
        rows += [(datetime(2024, 3, d, 12), float(i)) for i in range(100)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    edges20 = hist_edges(df, "value", num_bins=20)
    state = hist_state(df, "ts", "value", edges20)
    right = sorted(
        tuple(r) for r in psi_from_hist_state(state, num_bins=20).collect()
    )
    mismatched = sorted(
        tuple(r) for r in psi_from_hist_state(state, num_bins=10).collect()
    )
    assert mismatched == right
    # the totals see all 100 rows per day — nothing dropped
    assert mismatched[0][1] == 100 and mismatched[0][2] == 100


def test_hist_state_pinned_edges_differ_from_whole_window(spark):
    """The store contract cuts the other way too: a state bucketed
    under BOOTSTRAP edges is a different (deliberately so) series from
    rolling_psi_drift's whole-window edges when the later days shift —
    the pinned edges keep day-over-day comparisons anchored to the
    reference distribution. Day 3's shifted mass lands in the top
    bootstrap bin instead of re-centering the edges."""
    from datetime import datetime

    from facolos_data_pipelines_spark.quality.checks import (
        hist_edges,
        hist_state,
        psi_from_hist_state,
    )

    rows = []
    for d in (1, 2):
        rows += [(datetime(2024, 3, d, 12), float(i)) for i in range(100)]
    rows += [(datetime(2024, 3, 3, 12), 1000.0 + i) for i in range(100)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    boot = df.filter(F.col("ts") < "2024-03-03")
    edges = hist_edges(boot, "value")
    out = {
        str(r["day"]): r.asDict()
        for r in psi_from_hist_state(
            hist_state(df, "ts", "value", edges)
        ).collect()
    }
    assert out["2024-03-02"]["psi"] < 0.01
    # all of day 3 falls past the bootstrap's top edge -> max drift
    assert out["2024-03-03"]["shifted"]
    from facolos_data_pipelines_spark.quality.checks import hist_edges as he

    with pytest.raises(ValueError, match="num_bins"):
        he(df, "value", num_bins=1)


def test_profile_state_loop_matches_direct(spark, tmp_path):
    """The moments-profile loop contract: profile_from_state over
    appended state rows equals a direct one-shot aggregate of the
    accumulated fact — through a parquet append loop with a split-day
    duplicate append, a non-numeric column (NULL moments, real
    counts), NULL values and an empty batch."""
    from datetime import datetime

    from facolos_data_pipelines_spark.quality.checks import (
        profile_from_state,
        profile_state,
    )

    rows = []
    for d in (1, 2, 3):
        rows += [
            (datetime(2024, 3, d, 12), float(d * 10 + i), f"s{i % 2}")
            for i in range(10)
        ]
    rows += [(datetime(2024, 3, 2, 1), None, None), (None, 77.0, "gone")]
    df = spark.createDataFrame(rows, "ts timestamp, value double, src string")
    # NULL ts rows carry no day and are excluded from the store
    stored = df.filter(F.col("ts").isNotNull())

    def direct():
        n = F.count("value").cast("double")
        agg = stored.agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.when(F.col("value").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_null"),
            F.sum("value").alias("_s"),
            F.sum(F.col("value") * F.col("value")).alias("_q"),
            F.min("value").alias("_mn"),
            F.max("value").alias("_mx"),
            n.alias("_n"),
        )
        r = lambda c: F.round(c + F.lit(1e-9), 4)  # noqa: E731
        return agg.select(
            "n_rows", "n_null",
            r(F.col("_s") / F.col("_n")).alias("mean"),
            r(F.sqrt(
                (F.col("_q") - F.col("_s") * F.col("_s") / F.col("_n"))
                / (F.col("_n") - 1)
            )).alias("std"),
            r(F.col("_mn")).alias("min_value"),
            r(F.col("_mx")).alias("max_value"),
        ).first()

    want = direct()

    # one-shot
    prof = {
        r["column_name"]: r
        for r in profile_from_state(
            profile_state(df, "ts", ["value", "src"])
        ).collect()
    }
    v = prof["value"]
    assert (
        v["n_rows"], v["n_null"], v["mean"], v["std"],
        v["min_value"], v["max_value"],
    ) == tuple(want)
    s = prof["src"]
    assert s["n_rows"] == v["n_rows"] and s["n_null"] == 1
    assert s["mean"] is None and s["std"] is None

    # parquet append loop: day 1+2 bootstrap, day 3 in two halves
    # (duplicate (day, column) rows must merge), plus an empty batch
    state_path = str(tmp_path / "pstate")
    boot = df.filter(F.col("ts") < "2024-03-03")
    profile_state(boot, "ts", ["value", "src"]).write.parquet(state_path)
    d3 = df.filter(F.col("ts") >= "2024-03-03")
    for half in (0, 1):
        profile_state(
            d3.filter(F.pmod(F.col("value").cast("int"), F.lit(2)) == half),
            "ts", ["value", "src"],
        ).write.mode("append").parquet(state_path)
    profile_state(
        df.filter(F.lit(False)), "ts", ["value", "src"]
    ).write.mode("append").parquet(state_path)
    via_loop = {
        r["column_name"]: r
        for r in profile_from_state(spark.read.parquet(state_path)).collect()
    }
    v2 = via_loop["value"]
    assert (
        v2["n_rows"], v2["n_null"], v2["mean"], v2["std"],
        v2["min_value"], v2["max_value"],
    ) == tuple(want)
    # duplicate day rows really exist pre-merge
    st = spark.read.parquet(state_path)
    assert st.groupBy("day", "column_name").count().filter("count > 1").count() > 0

    with pytest.raises(ValueError, match="not in the frame"):
        profile_state(df, "ts", ["value", "typo"])


def test_robust_anomaly_known_scores(spark):
    """Hand-computed modified z-scores: group 'a' = [0..9]x4 + one 1e9
    row (41 non-null values) -> med 5.0, MAD 3.0; the contaminant
    scores 0.6745*(1e9-5)/3 and is the ONLY flag at 3.5; a constant
    group (MAD 0) never flags and scores NULL; NULL values score NULL
    and never flag."""
    from facolos_data_pipelines_spark.quality.checks import robust_anomaly

    rows = (
        [("a", float(i % 10)) for i in range(40)]
        + [("a", 1e9), ("a", None)]
        + [("b", 7.0)] * 5
    )
    df = spark.createDataFrame(rows, "g string, value double")
    out = robust_anomaly(df, "value", ["g"], threshold=3.5).collect()
    flagged = [r for r in out if r["is_outlier"]]
    assert len(flagged) == 1 and flagged[0]["value"] == 1e9
    want = round(0.6745 * (1e9 - 5.0) / 3.0 + 1e-9, 4)
    assert abs(flagged[0]["mod_zscore"] - want) < 1e-6
    for r in out:
        if r["g"] == "b":
            assert r["mod_zscore"] is None and not r["is_outlier"]
        if r["value"] is None:
            assert r["mod_zscore"] is None and not r["is_outlier"]
    # every input row survives the projection (flags, not filters)
    assert len(out) == len(rows)


def test_robust_operators_null_group_and_typo_contract(spark):
    """Round-9 review fixes: a NULL group key is a real group — its
    rows appear in robust_profile's output and stay (annotated) in
    robust_anomaly's; a typo'd group column raises instead of silently
    merging groups."""
    from facolos_data_pipelines_spark.quality.checks import (
        robust_anomaly,
        robust_profile,
    )

    rows = [("a", float(i)) for i in range(5)] + [
        (None, 50.0),
        (None, 51.0),
        (None, 52.0),
        (None, None),
    ]
    df = spark.createDataFrame(rows, "g string, value double")

    prof = {r["g"]: r for r in robust_profile(df, "value", ["g"]).collect()}
    assert None in prof and prof[None]["n"] == 3
    assert prof[None]["median"] == 51.0

    out = robust_anomaly(df, "value", ["g"])
    assert out.count() == len(rows)  # every row annotated, none dropped
    nulls = [r for r in out.collect() if r["g"] is None]
    assert len(nulls) == 4 and all(not r["is_outlier"] for r in nulls)

    with pytest.raises(ValueError, match="group columns not in the frame"):
        robust_profile(df, "value", ["typo"])
    with pytest.raises(ValueError, match="group columns not in the frame"):
        robust_anomaly(df, "value", ["typo"])


def test_hist_state_rejects_corrupt_edge_stores(spark, tmp_path):
    """The edge-store contract is self-policing at read time: a store
    re-bootstrapped with mode('append') (two edge rows — every count
    would silently multiply) and a store bootstrapped from an empty
    window (NULL _bs — all mass would silently vanish through the PSI
    equi-joins) both raise with the fix spelled out."""
    from datetime import datetime

    import pytest

    from facolos_data_pipelines_spark.quality.checks import hist_edges, hist_state

    df = spark.createDataFrame(
        [(datetime(2024, 3, 1, 12), float(i)) for i in range(50)],
        "ts timestamp, value double",
    )
    path = str(tmp_path / "edges")
    hist_edges(df, "value").write.parquet(path)
    hist_edges(df, "value").write.mode("append").parquet(path)  # corrupt
    with pytest.raises(ValueError, match="must be.*exactly 1"):
        hist_state(df, "ts", "value", spark.read.parquet(path))

    empty_edges = hist_edges(df.filter(F.lit(False)), "value")
    with pytest.raises(ValueError, match="NULL _bs"):
        hist_state(df, "ts", "value", empty_edges)


def test_hist_edges_drift_flags_outgrown_edges(spark):
    """The histogram store's re-bootstrap guard: a day whose mass has
    drifted past the pinned edge family piles into the open-end
    terminal bins and gets flagged; an in-family day does not; a
    num_bins smaller than the store's real edge family raises instead
    of silently misreading interior bins as terminal."""
    from datetime import datetime

    import pytest

    from facolos_data_pipelines_spark.quality.checks import (
        hist_edges,
        hist_edges_drift,
        hist_state,
    )

    boot = spark.createDataFrame(
        [(datetime(2024, 3, 1, 12), float(i % 100)) for i in range(300)],
        "ts timestamp, value double",
    )
    # day 2 is in-family; day 3 drifted entirely past the last edge
    drifted = spark.createDataFrame(
        [(datetime(2024, 3, 2, 12), float(i % 100)) for i in range(100)]
        + [(datetime(2024, 3, 3, 12), 500.0 + i) for i in range(100)],
        "ts timestamp, value double",
    )
    edges = hist_edges(boot, "value", num_bins=10)
    state = hist_state(boot.unionByName(drifted), "ts", "value", edges)
    got = {str(r["day"]): r.asDict() for r in hist_edges_drift(state).collect()}
    assert not got["2024-03-02"]["re_bootstrap"]
    assert got["2024-03-02"]["edge_share"] < 0.3
    assert got["2024-03-03"]["re_bootstrap"]
    assert got["2024-03-03"]["edge_share"] == 1.0
    assert got["2024-03-03"]["n_edge"] == got["2024-03-03"]["n_total"] == 100

    # passing the edge store derives the bin count from the pinned
    # family — the mismatch-proof call form (a too-LARGE num_bins is
    # undetectable from state alone and would defuse the guard)
    via_edges = {
        str(r["day"]): r.asDict()
        for r in hist_edges_drift(state, edges=edges).collect()
    }
    assert via_edges == got

    with pytest.raises(ValueError, match="larger edge family"):
        hist_edges_drift(state, num_bins=5).collect()
    with pytest.raises(ValueError, match="num_bins must be >= 2"):
        hist_edges_drift(state, num_bins=1)


def test_quantiles_from_hist_state_bounded_and_mergeable(spark, tmp_path):
    """The histogram state IS a mergeable quantile sketch: estimates
    read from persisted (day, bin, n) rows land inside the picked
    bin's edge interval, the TRUE discrete quantile lands in the same
    interval (the bounded-error contract the certified twin pins), a
    split append (duplicate (day, bin) rows) changes nothing, and
    mismatched inputs raise."""
    from datetime import datetime

    import pytest

    from facolos_data_pipelines_spark.quality.checks import (
        hist_edges,
        hist_state,
        quantiles_from_hist_state,
    )

    rows = [
        (datetime(2024, 3, 1 + (i % 3), 12), float(i % 200)) for i in range(600)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    edges = hist_edges(df, "value", num_bins=10)
    state_path = str(tmp_path / "qstate")
    # split append: two disjoint halves of the same window
    for half in (0, 1):
        hist_state(
            df.filter(F.pmod(F.col("value").cast("int"), F.lit(2)) == half),
            "ts", "value", edges,
        ).write.mode("append").parquet(state_path)
    state = spark.read.parquet(state_path)
    assert state.groupBy("day", "bin").count().filter("count > 1").count() > 0

    qs = [0.1, 0.5, 0.9]
    got = {r["q"]: r.asDict() for r in
           quantiles_from_hist_state(state, edges, qs).collect()}
    assert set(got) == set(qs)
    n = df.count()
    vals = sorted(r["value"] for r in df.collect())
    for q in qs:
        import math

        exact = vals[math.ceil(q * n) - 1]  # discrete quantile, 1-based
        lo, hi, est = got[q]["lo_edge"], got[q]["hi_edge"], got[q]["estimate"]
        if lo is not None:
            assert exact > lo and est >= lo, (q, lo, hi, est, exact)
        if hi is not None:
            assert exact <= hi and est <= hi, (q, lo, hi, est, exact)
        # bounded error: estimate and truth share a bin
        if lo is not None and hi is not None:
            assert abs(est - exact) <= (hi - lo) + 1e-9

    # single-shot state (no duplicates) gives identical estimates
    one = {r["q"]: r.asDict() for r in quantiles_from_hist_state(
        hist_state(df, "ts", "value", edges), edges, qs).collect()}
    assert one == got

    with pytest.raises(ValueError, match="q must be in"):
        quantiles_from_hist_state(state, edges, [0.5, 1.5])
    small = hist_edges(df, "value", num_bins=4)
    with pytest.raises(ValueError, match="different edges"):
        quantiles_from_hist_state(state, small, qs).collect()


def test_rebin_and_stitched_psi_across_seam(spark):
    """The guard→recovery loop closed: hist_edges_drift fires,
    rebin_hist_state produces the new-family rows from the one honest
    bounded fact rescan (seam - 1 onward — the baseline day the seam
    PSI row needs), and stitched_psi scores an UNBROKEN day-over-day
    series across the edge-family seam under the pinned rule: the
    straddling row is scored under the NEW family, which covers both
    of its days. Old-store rows past the seam are superseded, a
    missing baseline refuses to stitch, and a fact that lost
    seam-adjacent mass (retention) refuses to re-bin."""
    from datetime import datetime

    import pytest

    from facolos_data_pipelines_spark.quality.checks import (
        hist_edges,
        hist_edges_drift,
        hist_state,
        pinned_edges,
        psi_from_hist_state,
        rebin_hist_state,
        stitched_psi,
    )

    # days 1-3 in-family; days 4-6 drifted wholesale past the edges
    rows = []
    for d in (1, 2, 3):
        rows += [(datetime(2024, 3, d, 12), float(i % 100)) for i in range(120)]
    for d in (4, 5, 6):
        rows += [(datetime(2024, 3, d, 12), 500.0 + i % 100) for i in range(120)]
    fact = spark.createDataFrame(rows, "ts timestamp, value double")

    old_edges = pinned_edges(
        hist_edges(
            fact.filter(F.to_date("ts") <= F.lit("2024-03-02")), "value", 10
        ),
        "t",
    )
    # the old store accumulated THROUGH the drift (days 1-5) before the
    # guard's alert was acted on
    old_state = hist_state(
        fact.filter(F.to_date("ts") <= F.lit("2024-03-05")),
        "ts", "value", old_edges,
    )
    drift = {
        str(r["day"]): r["re_bootstrap"]
        for r in hist_edges_drift(old_state, edges=old_edges).collect()
    }
    assert drift["2024-03-04"] and not drift["2024-03-03"]

    # recovery: fresh reference window = the first drifted day
    new_edges = pinned_edges(
        hist_edges(
            fact.filter(F.to_date("ts") == F.lit("2024-03-04")), "value", 8
        ),
        "t",
    )
    new_state = rebin_hist_state(
        fact, "ts", "value", new_edges, "2024-03-05", old_state=old_state
    )
    days_new = {str(r["day"]) for r in new_state.select("day").dropDuplicates().collect()}
    assert days_new == {"2024-03-04", "2024-03-05", "2024-03-06"}

    got = {
        str(r["day"]): r.asDict()
        for r in stitched_psi(
            old_state, new_state, "2024-03-05",
            old_edges=old_edges, new_edges=new_edges,
        ).collect()
    }
    # unbroken series: every day 2..6 has exactly one row
    assert set(got) == {f"2024-03-0{d}" for d in range(2, 7)}
    assert {d: r["edge_family"] for d, r in got.items()} == {
        "2024-03-02": "old", "2024-03-03": "old", "2024-03-04": "old",
        "2024-03-05": "new", "2024-03-06": "new",
    }
    # the old side == the plain reader on the frozen store (its
    # superseded day-5 row dropped); the seam row == the plain reader
    # on the new store — both days in ONE family
    old_alone = {
        str(r["day"]): r["psi"]
        for r in psi_from_hist_state(old_state, 10).collect()
    }
    new_alone = {
        str(r["day"]): r["psi"]
        for r in psi_from_hist_state(new_state, 8).collect()
    }
    for d in ("2024-03-02", "2024-03-03", "2024-03-04"):
        assert got[d]["psi"] == old_alone[d]
    assert got["2024-03-05"]["psi"] == new_alone["2024-03-05"]
    # under the new family, days 4->5 share one distribution: the seam
    # row reads CALM — the cross-family comparison it replaces would
    # have scored pure bin-index noise as drift
    assert not got["2024-03-05"]["shifted"]
    # day 4 under the OLD family is the drift day itself
    assert got["2024-03-04"]["shifted"]

    with pytest.raises(ValueError, match="baseline day"):
        stitched_psi(
            old_state,
            new_state.filter(F.col("day") >= F.lit("2024-03-05")),
            "2024-03-05", old_edges=old_edges, new_edges=new_edges,
        )
    with pytest.raises(ValueError, match="retention"):
        rebin_hist_state(
            fact.filter(F.to_date("ts") >= F.lit("2024-03-05")),
            "ts", "value", new_edges, "2024-03-05", old_state=old_state,
        )


def test_quantiles_per_day_matches_single_day_reads(spark):
    """per_day=True answers at the family's monitoring grain: each
    (day, q) row equals the global reader run on that day's state
    slice alone — same cumulative arithmetic, partitioned by day."""
    from datetime import datetime

    from facolos_data_pipelines_spark.quality.checks import (
        hist_edges,
        hist_state,
        quantiles_from_hist_state,
    )

    rows = [
        (datetime(2024, 3, 1 + (i % 3), 12), float((i * 7) % 200))
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    edges = hist_edges(df, "value", num_bins=10)
    state = hist_state(df, "ts", "value", edges)
    qs = [0.25, 0.5, 0.9]
    daily = {
        (str(r["day"]), r["q"]): (r["bin"], r["lo_edge"], r["hi_edge"], r["estimate"])
        for r in quantiles_from_hist_state(state, edges, qs, per_day=True).collect()
    }
    assert len(daily) == 9  # 3 days x 3 qs
    for d in ("2024-03-01", "2024-03-02", "2024-03-03"):
        single = {
            r["q"]: (r["bin"], r["lo_edge"], r["hi_edge"], r["estimate"])
            for r in quantiles_from_hist_state(
                state.filter(F.col("day") == F.lit(d)), edges, qs
            ).collect()
        }
        for q in qs:
            assert daily[(d, q)] == single[q], (d, q)

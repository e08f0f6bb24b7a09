"""Pipeline runner (SURVEY §3.1-3.3): incremental cycle, replay
idempotence, quality gate, batch_runs control log, upsert mode."""

import pytest
from pyspark.sql import functions as F

from facolos_data_pipelines_spark.catalog.schemas import RAW_TIKTOK_ORDER_SCHEMA
from facolos_data_pipelines_spark.operators.conform import flatten_tiktok_orders
from facolos_data_pipelines_spark.pipelines import EndpointSpec, run_incremental_cycle

RAW_ORDERS = [
    {
        "order_id": "O1",
        "order_status": "COMPLETED",
        "create_time": 1700000000,
        "line_items": [
            {"product_id": "p1", "product_name": "widget", "sku_id": "s1", "quantity": "1"},
            {"product_id": "p2", "product_name": "gadget", "sku_id": "s2", "quantity": "2"},
        ],
    },
    {"order_id": "O2", "order_status": "UNPAID", "create_time": 1700000100, "line_items": []},
]


def _spec(spark, name="tiktok_orders", mode="append"):
    return EndpointSpec(
        name=name,
        extract=lambda s: s.createDataFrame(RAW_ORDERS, RAW_TIKTOK_ORDER_SCHEMA),
        transform=lambda raw, batch_id: flatten_tiktok_orders(raw, batch_id),
        primary_keys=["order_id", "item_id", "item_sku_id"],
        load_mode=mode,
    )


def test_incremental_cycle_lands_and_gates(spark, tmp_path):
    root = str(tmp_path / "staging")
    control = str(tmp_path / "control")
    report = run_incremental_cycle(
        spark, [_spec(spark)], root, control_root=control, min_tables_with_data=1
    )
    assert report["status"] == "success"
    assert report["endpoints"]["tiktok_orders"]["records"] == 3  # 2 items + 1 empty
    assert report["quality"]["passed"]

    landed = spark.read.parquet(f"{root}/tiktok_orders")
    assert landed.count() == 3

    runs = spark.read.parquet(f"{control}/batch_runs")
    row = runs.collect()[0]
    assert row["source_name"] == "tiktok_orders" and row["status"] == "success"
    assert row["records_loaded"] == 3


def test_cycle_replay_is_idempotent_per_batch_keys(spark, tmp_path):
    """Replaying identical source data with the same keys appends 0
    (PK rejection) — keys here exclude etl_batch_id to simulate
    redelivery of the same business rows."""
    root = str(tmp_path / "staging")
    spec = _spec(spark)
    r1 = run_incremental_cycle(spark, [spec], root, min_tables_with_data=1)
    r2 = run_incremental_cycle(spark, [spec], root, min_tables_with_data=1)
    assert r1["endpoints"]["tiktok_orders"]["records"] == 3
    assert r2["endpoints"]["tiktok_orders"]["records"] == 0
    assert spark.read.parquet(f"{root}/tiktok_orders").count() == 3


def test_cycle_upsert_mode_updates_not_duplicates(spark, tmp_path):
    root = str(tmp_path / "staging")
    spec = _spec(spark, mode="upsert")
    run_incremental_cycle(spark, [spec], root, min_tables_with_data=1)
    run_incremental_cycle(spark, [spec], root, min_tables_with_data=1)
    landed = spark.read.parquet(f"{root}/tiktok_orders")
    assert landed.count() == 3  # second run updated, did not duplicate


def test_cycle_upsert_executes_transform_once(spark, tmp_path):
    """The upsert branch must execute the extract→transform plan exactly
    once per cycle (localCheckpoint before count + upsert) — the old
    code ran upsert_parquet then conformed.count(), re-executing the
    whole plan. A mapInPandas tap counts the rows that actually flow."""
    root = str(tmp_path / "staging")
    marker = str(tmp_path / "upsert_tap.txt")

    def tapped_transform(raw, batch_id):
        conformed = flatten_tiktok_orders(raw, batch_id)

        def tap(batches):
            for pdf in batches:
                if len(pdf):
                    with open(marker, "a") as f:
                        f.write("x" * len(pdf))
                yield pdf

        return conformed.mapInPandas(tap, conformed.schema)

    spec = EndpointSpec(
        name="tiktok_orders",
        extract=lambda s: s.createDataFrame(RAW_ORDERS, RAW_TIKTOK_ORDER_SCHEMA),
        transform=tapped_transform,
        primary_keys=["order_id", "item_id", "item_sku_id"],
        load_mode="upsert",
    )
    report = run_incremental_cycle(spark, [spec], root, min_tables_with_data=1)
    n = report["endpoints"]["tiktok_orders"]["records"]
    assert n == 3
    with open(marker) as f:
        assert len(f.read()) == n  # one execution, not two


def test_cycle_upsert_partition_scoped_layout(spark, tmp_path):
    """EndpointSpec.partition_by flows through to the partition-scoped
    merge: the staging table lands hive-partitioned and replays stay
    idempotent. The partition column must be KEY-STABLE (the scoped
    merge never looks outside the incoming batch's partitions):
    create_time qualifies — order_status, which changes per key across
    cycles, would leave stale rows behind and must not be used."""
    import os

    root = str(tmp_path / "staging")
    spec = EndpointSpec(
        name="tiktok_orders",
        extract=lambda s: s.createDataFrame(RAW_ORDERS, RAW_TIKTOK_ORDER_SCHEMA),
        transform=lambda raw, batch_id: flatten_tiktok_orders(raw, batch_id),
        primary_keys=["order_id", "item_id", "item_sku_id"],
        load_mode="upsert",
        partition_by=["create_time"],
    )
    run_incremental_cycle(spark, [spec], root, min_tables_with_data=1)
    run_incremental_cycle(spark, [spec], root, min_tables_with_data=1)
    table = f"{root}/tiktok_orders"
    parts = {p for p in os.listdir(table) if p.startswith("create_time=")}
    assert parts == {"create_time=1700000000", "create_time=1700000100"}
    assert spark.read.parquet(table).count() == 3  # replay did not duplicate


def test_registry_schedules_and_advances_extract_time(spark, tmp_path):
    """data_sources registry contract: a not-yet-due endpoint is
    skipped (skipped_not_due), a due one runs, and last_extract_time
    advances only for the sources that actually extracted."""
    import datetime as dt

    from facolos_data_pipelines_spark.pipelines.registry import (
        due_sources,
        load_registry,
        seed_data_sources,
    )

    root = str(tmp_path / "staging")
    reg = str(tmp_path / "data_sources")
    now = dt.datetime(2024, 6, 1, 12, 0, 0)

    seed_data_sources(
        spark, reg, [("tiktok_orders", "ecommerce", 6.0), ("misa_crm", "crm", 24.0)]
    )
    # misa_crm extracted 1h ago (freq 24h -> not due); tiktok never (due)
    from facolos_data_pipelines_spark.pipelines.registry import mark_extracted

    mark_extracted(spark, reg, ["misa_crm"], now - dt.timedelta(hours=1))
    assert due_sources(spark, reg, now) == {"tiktok_orders"}

    specs = [_spec(spark), _spec(spark, name="misa_crm")]
    report = run_incremental_cycle(
        spark, specs, root, min_tables_with_data=1, registry_path=reg, now=now
    )
    assert report["endpoints"]["tiktok_orders"]["status"] == "success"
    assert report["endpoints"]["misa_crm"]["status"] == "skipped_not_due"

    times = {
        r["source_name"]: r["last_extract_time"]
        for r in load_registry(spark, reg).collect()
    }
    assert times["tiktok_orders"] == now  # advanced by the cycle
    assert times["misa_crm"] == now - dt.timedelta(hours=1)  # untouched

    # 7 hours later tiktok (6h freq) is due again, misa (24h) still not
    later = now + dt.timedelta(hours=7)
    assert due_sources(spark, reg, later) == {"tiktok_orders"}
    # seeding again must not clobber state (tolerate-exists)
    seed_data_sources(
        spark, reg, [("tiktok_orders", "ecommerce", 6.0), ("misa_crm", "crm", 24.0)]
    )
    assert due_sources(spark, reg, later) == {"tiktok_orders"}


def test_cycle_continues_past_failing_endpoint(spark, tmp_path):
    root = str(tmp_path / "staging")

    def boom(s):
        raise RuntimeError("api down")

    bad = EndpointSpec(
        name="bad",
        extract=boom,
        transform=lambda df, b: df,
        primary_keys=["x"],
    )
    report = run_incremental_cycle(
        spark, [bad, _spec(spark)], root, min_tables_with_data=1
    )
    assert report["status"] == "partial"
    assert report["endpoints"]["bad"]["status"] == "failed"
    assert report["endpoints"]["tiktok_orders"]["status"] == "success"
    assert report["quality"]["passed"]


def test_runner_cycles_feed_the_monitor(spark, tmp_path):
    """The monitor's cycle rows derive from the runner's batch_runs log:
    three real cycles, the last two with a failing endpoint, give three
    rows matching the reports, and the trailing failures alert."""
    from facolos_data_pipelines_spark.quality.monitor import (
        CYCLE_METRICS_SCHEMA,
        alert_conditions,
        cycles_from_runs,
    )

    root, control = str(tmp_path / "staging"), str(tmp_path / "control")

    def boom(s):
        raise RuntimeError("api down")

    bad = EndpointSpec(name="bad", extract=boom, transform=lambda df, b: df, primary_keys=["x"])
    reports = [
        run_incremental_cycle(spark, eps, root, control_root=control, min_tables_with_data=1)
        for eps in ([_spec(spark)], [bad, _spec(spark)], [bad, _spec(spark)])
    ]
    cycles = cycles_from_runs(spark.read.parquet(f"{control}/batch_runs"))
    assert cycles.columns == CYCLE_METRICS_SCHEMA.names
    got = {r["cycle_id"]: (r["success"], r["records_processed"]) for r in cycles.collect()}
    assert got == {
        r["batch_id"]: (
            r["status"] == "success",
            sum(e.get("records", 0) for e in r["endpoints"].values()),
        )
        for r in reports
    }
    assert list(got.values()).count((True, 3)) == 1
    alerts = alert_conditions(cycles, max_consecutive_failures=2).first()
    assert alerts["consecutive_failures"] == 2 and alerts["failure_alert"]


def _orders(name, table="", extract=None):
    """An append endpoint landing RAW_ORDERS (3 rows) into ``table``
    (default: its own name)."""
    return EndpointSpec(
        name=name,
        extract=extract or (lambda s: s.createDataFrame(RAW_ORDERS, RAW_TIKTOK_ORDER_SCHEMA)),
        transform=lambda raw, batch_id: flatten_tiktok_orders(raw, batch_id),
        primary_keys=["order_id", "item_id", "item_sku_id"],
        staging_table=table,
    )


def test_skipped_sources_reach_the_monitor(spark, tmp_path):
    """A not-due endpoint logs a 0-record skipped_not_due row, so a cycle
    where no source was due still yields a (successful, no-data) cycle
    row that the monitor's counters and schedule checks read."""
    import datetime as dt

    from facolos_data_pipelines_spark.pipelines.registry import seed_data_sources
    from facolos_data_pipelines_spark.quality.monitor import (
        alert_conditions,
        cycles_from_runs,
        production_health,
        schedule_accuracy,
    )

    root, control = str(tmp_path / "staging"), str(tmp_path / "control")
    reg = str(tmp_path / "data_sources")
    seed_data_sources(spark, reg, [("tiktok_orders", "ecommerce", 1e6)])  # far future
    now = dt.datetime(2024, 6, 1, 12, 0, 0)
    reports = [
        run_incremental_cycle(
            spark, [_spec(spark)], root, control_root=control,
            min_tables_with_data=1, registry_path=reg, now=at,
        )
        for at in (now, now + dt.timedelta(hours=1))
    ]
    assert reports[1]["endpoints"]["tiktok_orders"] == {"status": "skipped_not_due"}
    assert reports[1]["status"] == "success"

    runs = spark.read.parquet(f"{control}/batch_runs")
    skipped = runs.filter(F.col("batch_id") == reports[1]["batch_id"]).collect()
    assert [(r["status"], r["records_loaded"]) for r in skipped] == [("skipped_not_due", 0)]

    cycles = cycles_from_runs(runs)
    got = {r["cycle_id"]: (r["success"], r["records_processed"]) for r in cycles.collect()}
    assert got == {reports[0]["batch_id"]: (True, 3), reports[1]["batch_id"]: (True, 0)}
    alerts = alert_conditions(cycles, max_no_data_cycles=1).first()
    assert alerts["no_data_cycles"] == 1 and alerts["no_data_alert"]
    assert alerts["consecutive_failures"] == 0 and alerts["success_rate_pct"] == 100.0
    assert schedule_accuracy(cycles).first()["n_intervals"] == 1
    tables = spark.createDataFrame([("tiktok_orders", 3)], "table_name string, records long")
    health = production_health(cycles, tables).first()
    assert health["success_rate_pct"] == 100.0


def test_cycle_runs_endpoints_concurrently(spark, tmp_path):
    """Two endpoints on different tables meet at one barrier inside
    extract: they pass only if they run at the same time (one after the
    other, the first breaks the barrier after 10 s)."""
    import threading

    barrier = threading.Barrier(2, timeout=10)

    def extract(s):
        barrier.wait()
        return s.createDataFrame(RAW_ORDERS, RAW_TIKTOK_ORDER_SCHEMA)

    root = str(tmp_path / "staging")
    report = run_incremental_cycle(
        spark, [_orders("a", extract=extract), _orders("b", extract=extract)], root,
        min_tables_with_data=2,
    )
    assert {k: v["status"] for k, v in report["endpoints"].items()} == {
        "a": "success", "b": "success"
    }
    assert report["quality"]["passed"]


def test_cycle_failing_endpoint_fails_alone_among_concurrent(spark, tmp_path):
    """A raising endpoint between healthy ones: the healthy tables land,
    the report keeps input order and reads partial, and the log holds
    one row per endpoint."""
    import os

    def boom(s):
        raise RuntimeError("api down")

    root, control = str(tmp_path / "staging"), str(tmp_path / "control")
    eps = [_orders("a"), _orders("bad", extract=boom), _orders("c"), _orders("d")]
    report = run_incremental_cycle(
        spark, eps, root, control_root=control, min_tables_with_data=3
    )
    assert list(report["endpoints"]) == ["a", "bad", "c", "d"]
    assert report["status"] == "partial"
    assert report["endpoints"]["bad"] == {"status": "failed", "error": "api down"}
    for name in ("a", "c", "d"):
        assert report["endpoints"][name]["records"] == 3
        assert spark.read.parquet(f"{root}/{name}").count() == 3
    assert not os.path.exists(f"{root}/bad")
    assert report["quality"]["passed"]
    runs = spark.read.parquet(f"{control}/batch_runs").collect()
    assert {r["source_name"]: r["status"] for r in runs} == {
        "a": "success", "bad": "failed", "c": "success", "d": "success"
    }


def test_cycle_endpoints_sharing_a_table_run_in_order(spark, tmp_path):
    """Endpoints landing one staging table run in one worker, in input
    order: the second one's PK rejection sees the first one's rows."""
    root = str(tmp_path / "staging")
    eps = [_orders("first", table="orders"), _orders("other"), _orders("second", table="orders")]
    report = run_incremental_cycle(spark, eps, root, min_tables_with_data=2)
    assert list(report["endpoints"]) == ["first", "other", "second"]
    got = {k: v["records"] for k, v in report["endpoints"].items()}
    assert got == {"first": 3, "other": 3, "second": 0}
    assert spark.read.parquet(f"{root}/orders").count() == 3


def test_cycle_appends_one_batch_runs_file(spark, tmp_path):
    """The cycle's rows land as one append of one file, however many
    endpoints ran — also with more staging tables than pool threads."""
    import os

    root, control = str(tmp_path / "staging"), str(tmp_path / "control")
    n = spark.sparkContext.defaultParallelism + 2
    eps = [_orders(f"t{i}") for i in range(n)]
    reports = [
        run_incremental_cycle(spark, eps, root, control_root=control, min_tables_with_data=n)
        for _ in range(2)
    ]
    assert [r["endpoints"][f"t{n - 1}"]["records"] for r in reports] == [3, 0]
    files = [f for f in os.listdir(f"{control}/batch_runs") if f.endswith(".parquet")]
    assert len(files) == 2
    assert spark.read.parquet(f"{control}/batch_runs").count() == 2 * n


def test_cycle_workers_inherit_caller_context(spark, tmp_path):
    """The caller's job group, local properties and plan-only mode reach
    every endpoint; a property one endpoint sets reaches neither a
    sibling endpoint nor the caller. (Session tags are left out: on
    Spark 4.1 ``addTag`` makes the shared session unserializable for
    later ``pyspark.ml`` tasks.)"""
    import threading

    from facolos_data_pipelines_spark.eager import plan_only_active, plan_only_mode

    sc = spark.sparkContext
    seen = {}
    a_set = threading.Event()

    def context(s):
        return (
            sc.getLocalProperty("spark.jobGroup.id"),
            sc.getLocalProperty("cycle.custom"),
            plan_only_active(),
            sc.getLocalProperty("cycle.leak"),
        )

    def extract_a(s):
        seen["a"] = context(s)
        sc.setLocalProperty("cycle.leak", "a")
        a_set.set()
        return s.createDataFrame(RAW_ORDERS, RAW_TIKTOK_ORDER_SCHEMA)

    def extract_b(s):
        a_set.wait(10)
        seen["b"] = context(s)
        return s.createDataFrame(RAW_ORDERS, RAW_TIKTOK_ORDER_SCHEMA)

    root = str(tmp_path / "staging")
    sc.setJobGroup("cycle-group", "caller's group")
    sc.setLocalProperty("cycle.custom", "v")
    try:
        with plan_only_mode():
            report = run_incremental_cycle(
                spark, [_orders("a", extract=extract_a), _orders("b", extract=extract_b)],
                root, min_tables_with_data=2,
            )
        caller = sc.getLocalProperty("cycle.leak")
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel", "cycle.custom", "cycle.leak"):
            sc.setLocalProperty(key, None)
    assert report["status"] == "success"
    assert seen == {
        "a": ("cycle-group", "v", True, None),
        "b": ("cycle-group", "v", True, None),
    }
    assert caller is None


def test_curate_corpus_end_to_end(spark, sf_dir, tmp_path):
    from facolos_data_pipelines_spark.pipelines import curate_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 50 == 0).select("text")
    train = docs.filter(F.col("doc_id") % 50 != 0)
    out_path = str(tmp_path / "curated")
    res = curate_corpus(spark, train, benchmark=bench, output_path=out_path)
    m = {r["stage"]: (r["rows_in"], r["rows_out"]) for r in res.metrics.collect()}
    n0 = train.count()
    assert m["quality_filter"][0] == n0
    # each stage consumes the previous stage's output and never grows
    assert m["decontaminate"][0] == m["quality_filter"][1]
    assert m["near_dedup"][0] == m["decontaminate"][1]
    for rin, rout in m.values():
        assert 0 <= rout <= rin
    assert m["quality_filter"][1] < n0  # bottom quartile dropped
    surv = spark.read.parquet(out_path)
    assert surv.count() == m["near_dedup"][1]
    assert {"doc_id", "text", "fp_content", "fp_rolling_min"} <= set(surv.columns)
    # survivors are a subset of the input ids
    assert surv.join(train, "doc_id", "left_anti").count() == 0


def test_curate_corpus_c4_rules_stage_chain(spark, tmp_path):
    """c4_rules=True prepends the hard C4 pass: its rows_in is the input
    count, every later stage consumes the previous stage's rows_out
    (the scoring checkpoint counts the c4 output), and the written
    survivors number the last rows_out."""
    from facolos_data_pipelines_spark.pipelines import curate_corpus

    topics = ["river", "mountain", "harbor", "forest", "desert", "valley",
              "island", "glacier"]

    def doc(topic, extra=""):
        return (
            f"The {topic} near the old town changes with every season.\n"
            f"Visitors walk along the {topic} and write long letters home.\n"
            f"Local guides explain how the {topic} shaped the region{extra}."
        )

    rows = [(i + 1, doc(t)) for i, t in enumerate(topics)]
    rows += [
        (20, doc("river", " over many centuries")),  # near-dup of doc 1
        (30, "A single line document that cannot survive the line rule."),
        (31, "Lorem ipsum dolor sit amet here.\nSecond line of filler text."),
        (32, "too short\nstill short\nno punctuation anywhere"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out_path = str(tmp_path / "curated_c4")
    res = curate_corpus(
        spark, docs, c4_rules=True, quality_quantile=0.0, dedup_threshold=0.5,
        output_path=out_path,
    )
    stages = [tuple(r) for r in res.metrics.collect()]
    assert [s for s, _, _ in stages][:2] == ["c4_rules", "quality_filter"]
    assert stages[0][1] == len(rows)
    assert stages[0][2] == len(rows) - 3  # the three C4 rejects
    for (_, _, prev_out), (stage, rows_in, rows_out) in zip(stages, stages[1:]):
        assert rows_in == prev_out, stage
        assert rows_out <= rows_in, stage
    assert dict((s, (i, o)) for s, i, o in stages)["near_dedup"][1] < stages[0][2]
    assert spark.read.parquet(out_path).count() == stages[-1][2]


def test_curate_corpus_with_mixture_stage(spark, sf_dir):
    from facolos_data_pipelines_spark.pipelines import curate_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    res = curate_corpus(
        spark,
        docs,
        quality_quantile=0.0,  # keep all: isolate the mixture stage
        dedup_threshold=0.8,
        mix_col="lang",
        mix_weights={"en": 0.6, "es": 0.2, "de": 0.2},
    )
    m = {r["stage"]: (r["rows_in"], r["rows_out"]) for r in res.metrics.collect()}
    assert "mixture" in m
    assert m["mixture"][0] == m["near_dedup"][1]
    assert 0 < m["mixture"][1] <= m["mixture"][0]
    assert m["fingerprint"][0] == m["mixture"][1]
    # only weighted languages survive the mix
    assert {r["lang"] for r in res.survivors.select("lang").distinct().collect()} <= {
        "en", "es", "de"
    }


def test_curate_corpus_temperature_and_curriculum(spark, sf_dir):
    """Temperature mixing is the weight-free mixture arm, and the
    curriculum stage stamps (bucket, order_key) on survivors without
    changing the row count; conflicting mixture specs are rejected."""
    from facolos_data_pipelines_spark.pipelines import curate_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    res = curate_corpus(
        spark,
        docs,
        mix_col="lang",
        mix_temperature=0.5,
        curriculum_buckets=4,
    )
    m = {r["stage"]: (r["rows_in"], r["rows_out"]) for r in res.metrics.collect()}
    assert "mixture" in m and "curriculum" in m
    assert 0 < m["mixture"][1] <= m["mixture"][0]
    surv = res.survivors
    assert {"bucket", "order_key"} <= set(surv.columns)
    assert surv.count() == m["mixture"][1]
    buckets = {r["bucket"] for r in surv.select("bucket").distinct().collect()}
    assert buckets <= {0, 1, 2, 3} and len(buckets) >= 2

    with pytest.raises(ValueError, match="not both"):
        curate_corpus(
            spark, docs, mix_col="lang",
            mix_weights={"en": 1.0}, mix_temperature=0.5,
        )
    with pytest.raises(ValueError, match="half-specified|exactly one"):
        curate_corpus(spark, docs, mix_col="lang")


def test_curate_corpus_keep_best_survivor_policy(spark):
    """keep='best' (the default) keeps the HIGHEST-quality-score member
    of each near-dup cluster; keep='min_id' restores the lowest-id
    policy; the quality_score work column never leaks into survivors."""
    from facolos_data_pipelines_spark.pipelines import curate_corpus
    from facolos_data_pipelines_spark.operators.text import quality_score

    base = " ".join(
        "the quick brown fox jumps over a lazy dog while many people watch "
        "from the old stone bridge and children play near the quiet river "
        "as morning light slowly fills every corner of this small town with "
        "warm colors and the baker opens early to sell fresh bread".split()
    )
    rows = [
        # cluster: doc 1 is the min id; doc 2 appends distinct NEW
        # stopwords -> strictly higher length, diversity, and stopword
        # sub-scores, same shingles otherwise (Jaccard ~0.87, above the
        # 0.8 threshold)
        (1, base, "en"),
        (2, base + " in it is that for was on", "en"),
        # singletons
        (3, "completely different text about spacecraft navigation and "
            "orbital mechanics with its own vocabulary entirely", "en"),
        (4, "a second unrelated document describing deep sea creatures "
            "and the biology of hydrothermal vent ecosystems", "en"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    scores = {
        r["doc_id"]: r["quality_score"]
        for r in quality_score(docs).select("doc_id", "quality_score").collect()
    }
    assert scores[2] > scores[1]  # precondition for the policy check

    res_best = curate_corpus(spark, docs, quality_quantile=0.0)
    surv_best = {r["doc_id"] for r in res_best.survivors.select("doc_id").collect()}
    assert surv_best == {2, 3, 4}  # best-scoring member survives the cluster
    assert "quality_score" not in res_best.survivors.columns

    res_min = curate_corpus(spark, docs, quality_quantile=0.0, keep="min_id")
    surv_min = {r["doc_id"] for r in res_min.survivors.select("doc_id").collect()}
    assert surv_min == {1, 3, 4}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="keep="):
        curate_corpus(spark, docs, keep="bogus")


def test_curate_corpus_with_quality_model_backend(spark):
    """curate_corpus(quality_model=...) scores the quality stage with
    the distilled expression model instead of the heuristic: the
    bottom-quantile drop follows MODEL scores, and keep='best'
    survivor selection uses the model score too."""
    from facolos_data_pipelines_spark.operators.quality_model import (
        train_quality_classifier,
    )
    from facolos_data_pipelines_spark.pipelines.curation import curate_corpus

    prose = (
        "the quick brown fox jumps over the lazy dog and then it runs "
        "through the quiet field while the sun is high above the hills"
    )
    junk = "@@## $$%% 1234 !!! ### 999 *** ((( ))) 777 &&& ^^^ %%% 000"
    rows = (
        [(i, prose + f" take {i}") for i in range(10)]
        + [(100 + i, junk + f" {i}") for i in range(10)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    labeled = docs.withColumn("label", (F.col("doc_id") < 100).cast("int"))
    model = train_quality_classifier(labeled, "label")

    res = curate_corpus(spark, docs, quality_quantile=0.5, dedup_threshold=0.99)
    surv = {r["doc_id"] for r in res.survivors.select("doc_id").collect()}
    # q=0.75: percentile_approx returns an actual observation, so the
    # threshold lands inside the prose score cluster (junk scores ~0
    # would survive a >= comparison against their own value at q=0.5)
    res_m = curate_corpus(
        spark, docs, quality_quantile=0.75, dedup_threshold=0.99,
        quality_model=model,
    )
    surv_m = {r["doc_id"] for r in res_m.survivors.select("doc_id").collect()}
    # the model backend keeps ONLY prose (perfectly separable); junk ids gone
    assert all(i < 100 for i in surv_m), surv_m
    assert len(surv_m) > 0
    # metrics frame still reports the stage under the same name
    stages = {r["stage"] for r in res_m.metrics.collect()}
    assert "quality_filter" in stages
    # both backends produce a survivors frame without the score column
    assert "quality_score" not in res_m.survivors.columns
    assert surv  # heuristic path still works alongside

"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship daily-sales-summary query (SURVEY §2
A10) at sf0.001. ``queries()`` exposes one callable per implemented
operator family from SURVEY.md §2 (plus the LLM-pipeline extensions);
``oracle_sql()`` gives the DuckDB twin for every SQL-expressible one.

Column-name/type parity rules applied throughout:
- every computed column is aliased identically on both sides;
- counts are cast to BIGINT on both sides (DuckDB SUM(int) is HUGEINT);
- derived floating-point aggregates are rounded on both sides with an
  epsilon nudge (ROUND(x + 1e-6, 2)) so summation-order ulp drift at a
  half-cent boundary cannot flip the value hash;
- session timezone is UTC and ANSI is off (session.build_spark).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SF_SMOKE = "/root/testdata/sf0.001"

# Fixed reference instants for deterministic incremental-window queries
# (events ts spans 2024-01-01 .. 2024-01-30).
EVENTS_CUTOFF = "2024-01-20 00:00:00"
EVENTS_RETENTION_CUTOFF = "2024-01-10 00:00:00"
SHIP_START, SHIP_END = "1996-01-01", "1996-12-31"

# Deterministic query vector for similarity search: basis-ish vector so
# both engines compute identical literals (dim=64 per TESTDATA).
QUERY_VEC = [1.0 if i % 8 == 0 else (0.5 if i % 3 == 0 else 0.0) for i in range(64)]


def _clustered_embeddings(emb: "DataFrame") -> "DataFrame":
    """The shared blob derivation of the trained-index gates
    (q_ann_recall_trained, q_ivf_topk): a mixture of 8 well-separated
    blobs built deterministically from the embeddings table — vector =
    10·e_c + 0.5·embedding with c = vec_id % 8 picking the
    one-hot-ish center (10.0 at dims where d % 8 == c) and the
    isotropic synthetic embedding supplying within-cluster noise.
    Both gates MUST score the identical corpus (their docstrings claim
    the same derivation), so the expression lives once."""
    blob = F.pmod(F.col("vec_id"), F.lit(8))
    vec = F.transform(
        F.col("embedding"),
        lambda x, i: x.cast("double") * 0.5
        + F.when(F.pmod(i, F.lit(8)) == blob, F.lit(10.0)).otherwise(F.lit(0.0)),
    )
    return emb.select("vec_id", vec.alias("embedding"))


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from facolos_data_pipelines_spark.session import load_tables

    return load_tables(spark, sf_dir, [name])[name]


# ---------------------------------------------------------------------------
# Flagship — A10 daily sales summary (orders ⋈ lineitem, group by day)
# ---------------------------------------------------------------------------

def q_daily_sales_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 — the designed data-mart aggregate
    (reference sql/staging/create_future_platforms_schemas.sql:179-201):
    per sale date: distinct orders, revenue, quantity, avg order value.
    Plan: shuffle-join on orderkey (AQE may broadcast orders at small
    SF), then one hash-agg keyed by date — partial agg map-side.
    """
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # Pre-aggregate lineitem per order BEFORE joining: the shuffle then
    # carries (orderkey, 2 sums) instead of full rows, the join output
    # is 1:1 so COUNT(*) replaces COUNT(DISTINCT) (no Expand plan), and
    # orders broadcasts. Measured 1.5x faster at sf0.1; at 100 TB the
    # saving is the whole fact-table shuffle width.
    per_order = lineitem.groupBy("l_orderkey").agg(
        F.sum(rev).alias("_rev"), F.sum("l_quantity").alias("_qty")
    )
    return (
        per_order.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.to_date("o_orderdate").alias("sale_date"))
        .agg(
            F.count("*").cast("long").alias("total_orders"),
            F.round((F.sum("_rev")) + 1e-6, 2).alias("total_revenue"),
            F.round((F.sum("_qty")) + 1e-6, 2).alias("total_quantity"),
            F.round((F.sum("_rev") / F.count("*")) + 1e-6, 2).alias("avg_order_value"),
        )
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_daily_sales_summary(spark, SF_SMOKE)


# ---------------------------------------------------------------------------
# A1–A4 stats / A5 conditional / A6 summary+gate / A9 invariants
# ---------------------------------------------------------------------------

def q_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1–A3 one-pass stats over orders (engine quality.table_stats)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.agg(
        F.count("*").cast("long").alias("total_rows"),
        F.countDistinct("o_custkey").cast("long").alias("unique_keys"),
        F.min("o_orderdate").alias("earliest"),
        F.max("o_orderdate").alias("latest"),
    )


def q_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — per-event-type totals + windowed conditional count."""
    events = _t(spark, sf_dir, "events")
    recent = F.col("ts") >= F.lit(EVENTS_CUTOFF).cast("timestamp")
    return events.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.round((F.sum("value")) + 1e-6, 2).alias("total_value"),
        F.sum(F.when(recent, 1).otherwise(0)).cast("long").alias("recent_events"),
    )


def q_multi_table_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — stacked per-table counts (engine quality.multi_table_summary)."""
    from facolos_data_pipelines_spark.quality.checks import multi_table_summary
    from facolos_data_pipelines_spark.session import load_tables

    tables = load_tables(spark, sf_dir)
    out = multi_table_summary(tables)
    return out.select("table_name", F.col("records").cast("long").alias("records"))


def q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 fold — tables_with_data / quality_score / ≥5-tables pass bar."""
    from facolos_data_pipelines_spark.quality.checks import multi_table_summary, quality_gate
    from facolos_data_pipelines_spark.session import load_tables

    gate = quality_gate(multi_table_summary(load_tables(spark, sf_dir)), 5)
    return gate.select(
        F.col("total_tables").cast("long").alias("total_tables"),
        F.col("tables_with_data").cast("long").alias("tables_with_data"),
        F.col("total_records").cast("long").alias("total_records"),
        F.round((F.col("quality_score")) + 1e-6, 2).alias("quality_score"),
        "passed",
    )


def q_flatten_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — flatten preserves order count and item count
    (misa_crm_transformer.py:388-447) proved over orders/lineitem."""
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    flat = orders.join(
        lineitem, F.col("o_orderkey") == F.col("l_orderkey"), "left"
    )
    raw = orders.agg(
        F.count("*").cast("long").alias("raw_orders"),
    ).crossJoin(lineitem.agg(F.count("*").cast("long").alias("raw_items")))
    fl = flat.agg(
        F.countDistinct("o_orderkey").cast("long").alias("flat_orders"),
        F.sum(F.when(F.col("l_orderkey").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("flat_items"),
    )
    return raw.crossJoin(fl).select(
        "*",
        (F.col("flat_orders") == F.col("raw_orders")).alias("orders_preserved"),
        (F.col("flat_items") == F.col("raw_items")).alias("items_preserved"),
    )


# ---------------------------------------------------------------------------
# T1/T2 — the signature flatten, rebuilt on the synthetic tables
# ---------------------------------------------------------------------------

def q_flatten_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 — nest lineitems under their order (collect_list of struct)
    then ``explode_outer`` back out: proves explode_outer ≡ LEFT JOIN,
    including the keep-parent-on-empty rule for item-less orders
    (tiktok_shop_transformer.py:49-53)."""
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    nested = orders.join(
        lineitem.groupBy("l_orderkey").agg(
            F.collect_list(
                F.struct(
                    F.col("l_linenumber"), F.col("l_quantity"), F.col("l_extendedprice")
                )
            ).alias("items")
        ),
        F.col("o_orderkey") == F.col("l_orderkey"),
        "left",
    )
    exploded = nested.select(
        "o_orderkey", "o_orderstatus", F.explode_outer("items").alias("item")
    )
    return exploded.select(
        "o_orderkey",
        "o_orderstatus",
        F.col("item.l_linenumber").alias("linenumber"),
        F.col("item.l_quantity").alias("quantity"),
        F.col("item.l_extendedprice").alias("extendedprice"),
    )


def q_derived_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9/T10 — per-order derived flatten metadata + arithmetic column:
    items-per-order, has_multiple_items, order charge."""
    lineitem = _t(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_orderkey").agg(
        F.count("*").cast("long").alias("total_items_in_order"),
        (F.count("*") > 1).alias("has_multiple_items"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")))
            + 1e-6,
            2,
        ).alias("total_charge"),
    )


# ---------------------------------------------------------------------------
# T4/T5/T11 + scalar functions — cast & string parity
# ---------------------------------------------------------------------------

def q_safe_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 — non-ANSI cast parity: unparseable string -> NULL (pandas
    errors='coerce'); numeric JSON-extracted field parses."""
    from facolos_data_pipelines_spark.operators.conform import safe_cast

    events = _t(spark, sf_dir, "events")
    df = events.select(
        "event_id",
        F.col("event_type").alias("bad_int_src"),
        F.get_json_object("props", "$.k").alias("k_str"),
    )
    out = safe_cast(df, {"bad_int_src": "int", "k_str": "int"})
    return out.select(
        "event_id",
        F.col("bad_int_src").alias("bad_int"),
        F.col("k_str").alias("k_int"),
    )


def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T11/§2.9 — substring truncation, concat, epoch conversion."""
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.substring("o_orderpriority", 1, 3).alias("prio3"),
        F.concat(F.col("o_orderstatus"), F.lit("-"), F.col("o_orderpriority")).alias("status_prio"),
        F.unix_timestamp("o_orderdate").cast("long").alias("order_epoch_s"),
    )


# ---------------------------------------------------------------------------
# F1–F6 filters / S12 retention
# ---------------------------------------------------------------------------

def q_lookback_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 — modified-since lookback with keep-nulls arm
    (misa_crm_extractor.py:266-284)."""
    from facolos_data_pipelines_spark.operators.incremental import lookback_filter

    events = _t(spark, sf_dir, "events")
    return lookback_filter(events, "ts", EVENTS_CUTOFF).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


def q_time_range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 — source time-range predicate; pushed to the parquet scan."""
    from facolos_data_pipelines_spark.operators.incremental import time_range_filter

    lineitem = _t(spark, sf_dir, "lineitem")
    return time_range_filter(
        lineitem,
        "l_shipdate",
        F.lit(SHIP_START).cast("timestamp"),
        F.lit(SHIP_END).cast("timestamp"),
    ).select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")


def q_status_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 — status narrowing (order_status param)."""
    from facolos_data_pipelines_spark.operators.incremental import status_filter

    orders = _t(spark, sf_dir, "orders")
    return status_filter(orders, "o_orderstatus", "F").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


def q_retention_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 — retention keep-filter at a fixed cutoff."""
    events = _t(spark, sf_dir, "events")
    return events.filter(
        F.col("ts") >= F.lit(EVENTS_RETENTION_CUTOFF).cast("timestamp")
    ).select("event_id", "ts", "user_id")


def q_negative_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 — negative-value sanity tally."""
    from facolos_data_pipelines_spark.operators.incremental import negative_count

    return negative_count(_t(spark, sf_dir, "events"), "value")


# ---------------------------------------------------------------------------
# S11/A8 merge-dedup family + §2.5 joins
# ---------------------------------------------------------------------------

def q_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 — last-writer-wins per key (window-rank MERGE primitive):
    latest event per user, ties broken by event_id."""
    from facolos_data_pipelines_spark.operators.merge import latest_by_key

    events = _t(spark, sf_dir, "events")
    return latest_by_key(events, ["user_id"], order_col="ts", tiebreakers=["event_id"]).select(
        "user_id", "event_id", "ts", "event_type"
    )


def q_merge_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 — insert-vs-update tally via semi/anti joins: incoming = recent
    events' users, existing = older events' users."""
    from facolos_data_pipelines_spark.operators.merge import merge_stats

    events = _t(spark, sf_dir, "events")
    cutoff = F.lit(EVENTS_CUTOFF).cast("timestamp")
    incoming = events.filter(F.col("ts") >= cutoff)
    existing = events.filter(F.col("ts") < cutoff)
    out = merge_stats(existing, incoming, ["user_id"])
    return out.select(
        F.col("updated").cast("long").alias("updated"),
        F.col("inserted").cast("long").alias("inserted"),
    )


def q_anti_join_new_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 left-anti incremental dedup (engine merge.append_dedup):
    events from users never seen before the cutoff — the PK-rejection
    append applied to a time-split of the events table."""
    from facolos_data_pipelines_spark.operators.merge import append_dedup

    events = _t(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-05 00:00:00").cast("timestamp")
    incoming = events.filter(F.col("ts") >= cutoff)
    existing = events.filter(F.col("ts") < cutoff)
    return append_dedup(existing, incoming, ["user_id", "event_type"]).select(
        "event_id", "user_id", "event_type"
    )


def q_dim_enrichment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 broadcast dim-fact enrichment: customer -> nation -> region
    rollup. Dims are broadcast (no shuffle of the fact side)."""
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        customer.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count("*").cast("long").alias("customers"),
            F.round((F.sum("c_acctbal")) + 1e-6, 2).alias("total_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# §2.6 sorts / limits / windows / set ops
# ---------------------------------------------------------------------------

def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k = orderBy().limit() -> TakeOrderedAndProject (k-heap per
    partition, no global sort)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window row_number: top-3 orders per customer."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", F.col("rn").cast("long").alias("rn"))
    )


def q_union_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 set ops — cross-page/batch accumulation ≡ unionByName."""
    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    b = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    return a.unionByName(b)


# ---------------------------------------------------------------------------
# §2.7 streaming-equivalent (batch twin of the tumbling-window agg)
# ---------------------------------------------------------------------------

def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window counts per event type — the batch twin of
    the Structured Streaming query in streaming/pipeline.py."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round((F.sum("value")) + 1e-6, 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# SQL surface / richer aggregates
# ---------------------------------------------------------------------------

PRICING_SUMMARY_SQL = """
    SELECT l_returnflag, l_linestatus,
           ROUND((SUM(l_quantity)) + 1e-6, 2) AS sum_qty,
           ROUND((SUM(l_extendedprice)) + 1e-6, 2) AS sum_base_price,
           ROUND((SUM(l_extendedprice * (1 - l_discount))) + 1e-6, 2) AS sum_disc_price,
           ROUND((SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax))) + 1e-6, 2) AS sum_charge,
           ROUND((AVG(l_quantity)) + 1e-6, 2) AS avg_qty,
           ROUND((AVG(l_extendedprice)) + 1e-6, 2) AS avg_price,
           ROUND((AVG(l_discount)) + 1e-8, 4) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
"""


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end parity: the engine runs the *identical* ANSI text
    the oracle runs (ad-hoc spark.sql over registered staging views) —
    TPC-H-Q1-shaped pricing summary."""
    from facolos_data_pipelines_spark.session import load_tables

    load_tables(spark, sf_dir, ["lineitem"])
    return spark.sql(PRICING_SUMMARY_SQL)


SHIPPING_PRIORITY_SQL = """
    SELECT o_orderkey,
           ROUND((SUM(l_extendedprice * (1 - l_discount))) + 1e-6, 2) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate ASC, o_orderkey ASC
    LIMIT 20
"""

REGION_VOLUME_SQL = """
    SELECT n_name AS nation,
           ROUND((SUM(l_extendedprice * (1 - l_discount))) + 1e-6, 2) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
"""


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped 3-way join + group + top-k, identical ANSI text
    on engine and oracle (SQL front-end parity for the data-mart
    surface)."""
    from facolos_data_pipelines_spark.session import load_tables

    load_tables(spark, sf_dir, ["customer", "orders", "lineitem"])
    return spark.sql(SHIPPING_PRIORITY_SQL)


def q_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped 6-way join: dims broadcast, facts shuffle once
    on the join key; identical ANSI text on both engines."""
    from facolos_data_pipelines_spark.session import load_tables

    load_tables(
        spark, sf_dir, ["customer", "orders", "lineitem", "supplier", "nation", "region"]
    )
    return spark.sql(REGION_VOLUME_SQL)


def q_rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets surface (A6's stacked-counts generalization):
    ROLLUP over (order year, status) with subtotal and grand-total rows."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup(F.year("o_orderdate").alias("order_year"), F.col("o_orderstatus"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round((F.sum("o_totalprice")) + 1e-6, 2).alias("revenue"),
        )
    )


def q_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 date scalar functions: extraction + date arithmetic."""
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.quarter("o_orderdate").cast("long").alias("order_quarter"),
        F.month("o_orderdate").cast("long").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("long").alias("order_day"),
        F.datediff(F.lit("2002-01-01").cast("timestamp"), F.col("o_orderdate"))
        .cast("long")
        .alias("days_to_2002"),
    )


def q_value_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN bucketing + HAVING-style post-aggregation filter."""
    events = _t(spark, sf_dir, "events")
    bucket = (
        F.when(F.col("value") < 10, "small")
        .when(F.col("value") < 100, "medium")
        .otherwise("large")
    )
    return (
        events.groupBy(bucket.alias("value_bucket"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round((F.avg("value")) + 1e-6, 2).alias("avg_value"),
        )
        .filter(F.col("n_events") > 10)
    )


def q_json_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 — struct -> JSON string serialization (the reference's
    json.dumps-on-landing for nested attributes)."""
    events = _t(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.to_json(F.struct(F.col("user_id"), F.col("event_type"))).alias("payload_json"),
    )


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 at-scale variant: HLL approx_count_distinct BOUND-CHECKED
    against the exact count. The sketch estimate itself is
    engine-specific, so the oracle row is (exact count, TRUE) and the
    Spark side emits (exact count, |approx-exact|/exact <= bound): the
    value-hash matches iff the estimate honors the bound. rsd=0.01
    requested, asserted at 5x that (5 sigma)."""
    events = _t(spark, sf_dir, "events")
    agg = events.agg(
        F.countDistinct("user_id").cast("long").alias("exact_users"),
        F.approx_count_distinct("user_id", 0.01).cast("long").alias("approx_users"),
    )
    rel_err = F.abs(F.col("approx_users") - F.col("exact_users")) / F.col("exact_users")
    return agg.select("exact_users", (rel_err <= F.lit(0.05)).alias("within_rsd"))


# ---------------------------------------------------------------------------
# §7.3 step 8 — LLM-pipeline extensions (dedup / similarity / text)
# ---------------------------------------------------------------------------

def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup — min-id winner per distinct text."""
    from facolos_data_pipelines_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs).select("doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"))


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis — whitespace token count per document."""
    from facolos_data_pipelines_spark.operators.text import token_count_whitespace

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", token_count_whitespace("text").cast("long").alias("n_tokens")
    )


def q_doc_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis — corpus length stats per declared language."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round((F.avg("n_chars")) + 1e-6, 2).alias("avg_chars"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against a fixed query vector — exact
    ANN baseline, JVM-side dot products."""
    from facolos_data_pipelines_spark.operators.similarity import topk_bruteforce

    emb = _t(spark, sf_dir, "embeddings")
    out = topk_bruteforce(emb, QUERY_VEC, k=10)
    return out.select("vec_id", F.round((F.col("cosine")) + 1e-8, 4).alias("cosine"))


def q_similarity_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine >= threshold filter (near-dup-to-query set, order-free)."""
    from facolos_data_pipelines_spark.operators.similarity import cosine_to_query

    emb = _t(spark, sf_dir, "embeddings")
    scored = emb.select(
        "vec_id", cosine_to_query(F.col("embedding"), QUERY_VEC).alias("c")
    )
    return scored.filter(F.col("c") >= 0.2).select(
        "vec_id", F.round((F.col("c")) + 1e-8, 4).alias("cosine")
    )


# --- rows-only (no tractable ANSI-SQL oracle): NQ checks -------------------

def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[NQ] MinHash+LSH near-dedup survivor set.

    The hash family is chosen HERE, explicitly, from the session's ANSI
    setting (the library no longer auto-switches): multiply_add is the
    fast path but throws on ANSI sessions; xxhash works anywhere. The
    survivor SET is family-independent up to LSH banding noise because
    signatures are computed and consumed within this one job.
    """
    from facolos_data_pipelines_spark.operators.dedup import minhash_dedup

    ansi = spark.conf.get("spark.sql.ansi.enabled") == "true"
    docs = _t(spark, sf_dir, "documents")
    return minhash_dedup(
        docs, family="xxhash" if ansi else "multiply_add"
    ).select("doc_id")


def q_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[NQ] SimHash near-dedup survivor set."""
    from facolos_data_pipelines_spark.operators.dedup import simhash_dedup

    docs = _t(spark, sf_dir, "documents")
    return simhash_dedup(docs).select("doc_id")


def q_minhash_dedup_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dedup survivor set under the PORTABLE md5 hash
    family (lane i = lexicographic min of md5('i:'||shingle) hex) —
    16 lanes x 4 bands, Jaccard-verified at 0.8. Every stage (shingles,
    lane minima, band buckets, verification, survivor set) is
    reproduced by the DuckDB oracle, converting the minhash pipeline
    from a rows-only check to a full value-hash check."""
    from facolos_data_pipelines_spark.operators.dedup import minhash_dedup

    docs = _t(spark, sf_dir, "documents")
    return minhash_dedup(
        docs, num_hashes=16, bands=4, threshold=0.8, family="md5"
    ).select("doc_id")


def q_cross_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus near-dup pairs (dedup.minhash_cross_corpus_pairs,
    round 8) under the portable md5 family: odd-id documents are the
    NEW batch, even-id documents the existing corpus — (left, right)
    pairs whose verified shingle Jaccard >= 0.8, found via a
    bucket-keyed join between the two sides' band frames with no
    self-join anywhere. The decontaminate-new-crawl-against-eval-set /
    dedup-against-training-set primitive; every stage (md5 lane minima,
    band keys, cross-bucket candidates, exact Jaccard) is reproduced by
    the DuckDB oracle."""
    from facolos_data_pipelines_spark.operators.dedup import (
        minhash_cross_corpus_pairs,
    )

    from facolos_data_pipelines_spark.operators.dedup import minhash_band_state
    from facolos_data_pipelines_spark.eager import materialize

    docs = _t(spark, sf_dir, "documents")
    # One signature pipeline for the whole corpus, checkpointed, then
    # filter-split into the two sides (band rows are per-document, so
    # the parity filters commute with signing — identical pairs; the
    # previous shape ran the explode/window/md5 chain once PER SIDE,
    # r12 optimization)
    allb = materialize(minhash_band_state(docs, num_hashes=16, bands=4, family="md5"))
    pairs = minhash_cross_corpus_pairs(
        docs.filter(F.col("doc_id") % 2 == 1),
        docs.filter(F.col("doc_id") % 2 == 0),
        num_hashes=16,
        bands=4,
        threshold=0.8,
        family="md5",
        left_buckets=allb.filter(F.col("doc_id") % 2 == 1),
        right_buckets=allb.filter(F.col("doc_id") % 2 == 0),
    )
    return pairs.select(
        "left_id",
        "right_id",
        F.round(F.col("jaccard") + 1e-9, 6).alias("jaccard"),
    ).orderBy("left_id", "right_id")


def q_minhash_dedup_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One cycle of the incremental MinHash dedup loop
    (dedup.minhash_dedup_delta, round 9) under the portable md5 family:
    odd-id documents are the NEW batch, even-id documents the accepted
    corpus whose PERSISTED band state (dedup.minhash_band_state — no
    historical text is re-signed) the batch is probed against. Survivors
    are batch docs with no verified near-dup (Jaccard >= 0.8) in history
    AND not beaten by a smaller-id batch doc in the whole-batch internal
    sweep. Every stage — md5 lane minima, band keys, the cross and
    internal candidate joins, exact distinct-shingle Jaccard, both loser
    rules — is reproduced by the DuckDB oracle."""
    from facolos_data_pipelines_spark.operators.dedup import (
        minhash_band_state,
        minhash_dedup_delta,
    )

    from facolos_data_pipelines_spark.eager import materialize

    docs = _t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    hist = docs.filter(F.col("doc_id") % 2 == 0)
    # One signature pipeline for the whole corpus, checkpointed, then
    # filter-split into the state (even ids) and the batch band rows
    # (odd ids) — band rows are per-document, so the parity filters
    # commute with signing and every value is identical; the previous
    # shape ran the explode/window/md5 chain once per side (r12
    # optimization). Production unchanged: there the state is READ
    # from the bucketed store, never derived.
    allb = materialize(minhash_band_state(docs, num_hashes=16, bands=4, family="md5"))
    state = allb.filter(F.col("doc_id") % 2 == 0)
    return minhash_dedup_delta(
        batch, state, hist, num_hashes=16, bands=4, threshold=0.8, family="md5",
        batch_buckets=allb.filter(F.col("doc_id") % 2 == 1),
    ).select("doc_id")


def q_simhash_dedup_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable 60-bit SimHash near-dedup survivor set
    (dedup.simhash_dedup_md5): word-hash bits = the nibbles of the
    first 15 md5 hex digits, integer majority votes, 15-bit-block
    pigeonhole blocking, hamming <= 3 — all reproduced exactly by the
    DuckDB oracle."""
    from facolos_data_pipelines_spark.operators.dedup import simhash_dedup_md5

    docs = _t(spark, sf_dir, "documents")
    return simhash_dedup_md5(docs).select("doc_id")


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-heuristic language ID vs the declared lang label."""
    from facolos_data_pipelines_spark.operators.text import detect_language

    docs = _t(spark, sf_dir, "documents")
    out = detect_language(docs)
    return out.groupBy("lang", "detected_lang").agg(
        F.count("*").cast("long").alias("n_docs")
    )


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document quality score per doc (C4-style heuristics)."""
    from facolos_data_pipelines_spark.operators.text import quality_score

    docs = _t(spark, sf_dir, "documents")
    out = quality_score(docs)
    return out.select("doc_id", F.round((F.col("quality_score")) + 1e-8, 4).alias("quality_score"))


def q_ngram_jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dedup survivor set (the exact twin of
    minhash_dedup, inverted-index candidate generation). Integer-exact
    (shared/size counts, one division), so oracle-checkable."""
    from facolos_data_pipelines_spark.operators.dedup import ngram_jaccard_dedup

    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_dedup(docs, threshold=0.8).select("doc_id")


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k, certified as a BOUNDED oracle (round 10,
    retiring this query's former [NQ] status the way round 6 retired
    compression_signal): recall@10 of `topk_ivf` — coarse quantizer
    trained by the DISTRIBUTED k-means rounds (small_threshold=0, so
    the gate still certifies the 100 TB training path, not the
    driver-side shortcut), 2 of 8 cells probed — against the exact
    cosine top-10 (`topk_bruteforce`) computed in the SAME query, with
    the >= 0.8 recall bound hash-pinned.

    The corpus is the ann_recall_trained blob derivation (vector =
    10*e_{id%8} + 0.5*embedding, query drawn from blob 0): coarse
    quantization on the raw isotropic synthetic embeddings is the
    documented worst case (see ann_recall's docstring), so the gate
    proves the USEFUL pairing — trained cells on clusterable data —
    while the trained centroid floats stay engine-local.

    Bounded oracle: the Spark row is (n_exact, meets_gate) and the
    DuckDB row is the static (10, TRUE) — the value hash matches iff
    the distributed-trained IVF actually clears recall@10 >= 0.8
    probing 2 of 8 cells."""
    from facolos_data_pipelines_spark.operators.similarity import (
        ann_recall_at_k,
        ivf_train,
        topk_bruteforce,
        topk_ivf,
    )

    emb = _t(spark, sf_dir, "embeddings")
    clustered = _clustered_embeddings(emb)
    centroids = ivf_train(
        clustered, k=8, small_threshold=0, init_sample_fraction=0.5
    )
    query = [
        float(x)
        for x in clustered.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    approx = topk_ivf(clustered, query, centroids, k=10, n_probe=2)
    exact = topk_bruteforce(clustered, query, k=10)
    rec = ann_recall_at_k(approx, exact)
    return rec.select(
        "n_exact", (F.col("recall") >= F.lit(0.8)).alias("meets_gate")
    )


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN join: 5 query vectors x top-3 corpus neighbors (JVM\n    sequential-fold cosine, so oracle-checkable)."""
    from facolos_data_pipelines_spark.operators.similarity import knn_join_bruteforce

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = knn_join_bruteforce(queries, emb, k=3)
    return out.select("query_id", "neighbor_id", F.round((F.col("cosine")) + 1e-8, 4).alias("cosine"))


def q_knn_join_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-blocked k-NN join (similarity.knn_join_lsh) — the
    large-query-side scale twin of knn_join: both sides banded on
    deterministic hyperplane signatures (4 planes x 4 bands), scoring
    bucket-local only. The DuckDB oracle reproduces the identical
    blocking and ranking, certifying the approximate plan itself."""
    from facolos_data_pipelines_spark.operators.similarity import knn_join_lsh

    emb = _t(spark, sf_dir, "embeddings")
    queries_side = emb.filter(F.col("vec_id") < 5)
    out = knn_join_lsh(queries_side, emb, k=3, num_planes=4, num_bands=4, dim=64)
    return out.select(
        "query_id", "neighbor_id", F.round((F.col("cosine")) + 1e-8, 4).alias("cosine")
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (md5-portable twin of operators.text
    .fingerprint): content hash of normalized text + rolling 5-gram
    min-hash blocking key."""
    from facolos_data_pipelines_spark.operators.text import fingerprint_md5

    docs = _t(spark, sf_dir, "documents")
    return fingerprint_md5(docs).select("doc_id", "fp_content", "fp_rolling_min")


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs through the DEFAULT banded
    hyperplane-LSH blocked plan (operators.dedup
    .embedding_near_dup_pairs, 6 planes x 4 bands): id pairs sharing at
    least one band signature with cosine >= 0.4. The hyperplanes are
    deterministic literals (similarity._seeded_plane), so the DuckDB
    oracle reproduces the exact same blocking — this certifies the
    100 TB bucket-local path, not the O(n^2) opt-in."""
    from facolos_data_pipelines_spark.operators.dedup import embedding_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    out = embedding_near_dup_pairs(emb, threshold=0.4, num_planes=6, num_bands=4, dim=64)
    return out.select(
        "id_a", "id_b", F.round((F.col("cosine")) + 1e-8, 4).alias("cosine")
    )


def q_embedding_near_dups_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs twin of q_embedding_near_dups (num_planes=0, the
    small-frame opt-in) — certifies that the blocked result is a subset
    of this one and that the pair dot-product math itself is right."""
    from facolos_data_pipelines_spark.operators.dedup import embedding_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    out = embedding_near_dup_pairs(emb, threshold=0.4, num_planes=0)
    return out.select(
        "id_a", "id_b", F.round((F.col("cosine")) + 1e-8, 4).alias("cosine")
    )


def q_embedding_dedup_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One cycle of the incremental EMBEDDING dedup loop
    (dedup.embedding_dedup_delta, round 9): odd vec_ids are the new
    batch, even vec_ids the accepted corpus whose persisted hyperplane
    band state (dedup.embedding_band_state — pinned 6 planes x 4 bands,
    the certified plane family; no historical vector re-signed) the
    batch probes. Survivors: batch vectors with no cross near-dup
    (cosine >= 0.4) in history AND not beaten by a smaller-id batch
    vector in the whole-batch internal sweep; zero-norm vectors pass
    through. The DuckDB oracle reproduces the plane literals, both
    candidate joins and both loser rules exactly."""
    from facolos_data_pipelines_spark.operators.dedup import (
        embedding_band_state,
        embedding_dedup_delta,
    )

    emb = _t(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    hist = emb.filter(F.col("vec_id") % 2 == 0)
    state = embedding_band_state(hist, num_planes=6, num_bands=4, dim=64)
    return embedding_dedup_delta(
        batch, state, hist, threshold=0.4, num_planes=6, num_bands=4, dim=64
    ).select("vec_id")


def _event_cycles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CYCLE_METRICS_SCHEMA rows, one per event day: started_at = the
    day's last event, duration = span of the day's events in whole
    seconds, success = error rate < 20%."""
    events = _t(spark, sf_dir, "events")
    return events.groupBy(F.to_date("ts").alias("_d")).agg(
        F.max("ts").alias("started_at"),
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
        .cast("double")
        .alias("duration_seconds"),
        F.count("*").cast("long").alias("records_processed"),
        (
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)) * 5
            < F.count("*")
        ).alias("success"),
    ).select(
        F.col("_d").cast("string").alias("cycle_id"),
        "started_at",
        "duration_seconds",
        "records_processed",
        "success",
    )


def q_cycle_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — rolling last-10-cycle summary (quality.monitor.cycle_summary)
    over the per-day event cycles (:func:`_event_cycles`). All inputs
    are integers, so the averaged/percentage outputs are bit-identical
    across engines."""
    from facolos_data_pipelines_spark.quality.monitor import cycle_summary

    return cycle_summary(_event_cycles(spark, sf_dir), last_n=10)


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (text.repetition_stats):
    duplicate-line fraction + top-bigram fraction — integer counts with
    one final division, exactly reproducible in SQL."""
    from facolos_data_pipelines_spark.operators.text import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    out = repetition_stats(docs)
    return out.select(
        "doc_id",
        F.round(F.col("dup_line_frac") + 1e-9, 4).alias("dup_line_frac"),
        F.round(F.col("top_bigram_frac") + 1e-9, 4).alias("top_bigram_frac"),
    )


def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data profile (quality.checks.column_profile): counts,
    nulls, exact distincts, min/max and exact interpolated quartiles —
    DuckDB's quantile_cont shares the percentile definition, so values
    hash-match under the rounding convention."""
    from facolos_data_pipelines_spark.quality.checks import column_profile

    orders = _t(spark, sf_dir, "orders")
    return column_profile(
        orders, ["o_orderkey", "o_totalprice", "o_orderstatus"], exact_distinct=True
    )


def q_column_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """column_profile's DEFAULT (100 TB) path: approx_count_distinct
    instead of the full-shuffle COUNT DISTINCT — measured ~3x faster at
    sf0.1 and the safe out-of-the-box profiling choice. The HLL
    estimate itself is engine-specific, so every OTHER stat is
    certified exactly and the estimate is projected to its sanity
    envelope ``n_distinct_bounded`` (1 <= est <= n_rows) — a
    REFERENCED projection, so Catalyst cannot prune the HLL aggregate
    out of the timed plan (a bare .drop() would); the estimate's
    accuracy bound is certified separately by `approx_distinct`."""
    from facolos_data_pipelines_spark.quality.checks import column_profile

    orders = _t(spark, sf_dir, "orders")
    prof = column_profile(orders, ["o_orderkey", "o_totalprice", "o_orderstatus"])
    return prof.select(
        "column_name",
        "n_rows",
        "n_null",
        # HLL rsd is ~5% at the default precision, so on near-unique
        # columns (o_orderkey) the estimate can land ABOVE n_rows; bound
        # with a 3-sigma margin (est <= n_rows * 1.15) so the boolean is
        # stable across scales/seeds — the DuckDB twin's exact count is
        # trivially within the same envelope (approx_distinct convention)
        (
            (F.col("n_distinct") >= 1)
            & (F.col("n_distinct") <= F.col("n_rows") * 1.15)
        ).alias("n_distinct_bounded"),
        "min_value",
        "max_value",
        "p25",
        "p50",
        "p75",
    )


def q_column_profile_tdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """column_profile's FULLY-approx 100 TB shape: HLL distinct counts
    AND Greenwald-Khanna sketch percentiles (approx_percentiles=True)
    — no sort-based aggregate anywhere in the plan. Counts and
    min/max stay exact (hash-pinned); the sketch outputs are
    certified through their mathematical envelope: rank-monotone
    quartiles that are actual column values, so
    min <= p25 <= p50 <= p75 <= max always holds. The booleans
    reference the sketch columns, keeping the approx aggregate in the
    timed plan."""
    from facolos_data_pipelines_spark.quality.checks import column_profile

    orders = _t(spark, sf_dir, "orders")
    prof = column_profile(
        orders,
        ["o_orderkey", "o_totalprice", "o_orderstatus"],
        approx_percentiles=True,
    )
    return prof.select(
        "column_name",
        "n_rows",
        "n_null",
        (
            (F.col("n_distinct") >= 1)
            & (F.col("n_distinct") <= F.col("n_rows") * 1.15)
        ).alias("n_distinct_bounded"),
        "min_value",
        "max_value",
        ((F.col("p25") <= F.col("p50")) & (F.col("p50") <= F.col("p75"))).alias(
            "quartiles_ordered"
        ),
        # 1e-3 slack absorbs the round-to-4 on the sketch outputs (a
        # quartile equal to min/max could otherwise round past it)
        (
            (F.col("p25") >= F.col("min_value") - 1e-3)
            & (F.col("p75") <= F.col("max_value") + 1e-3)
        ).alias("quartiles_in_range"),
    )


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment
    (operators.sampling.hash_split): md5-bucketed id hash, portable
    across engines — the DuckDB twin recomputes the identical buckets
    digit-by-digit."""
    from facolos_data_pipelines_spark.operators.sampling import hash_split

    docs = _t(spark, sf_dir, "documents")
    return hash_split(docs).select("doc_id", "split")


def q_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group sampling
    (operators.sampling.sample_per_group): 20 docs per language by
    md5-rank — portable reservoir-sampling stand-in."""
    from facolos_data_pipelines_spark.operators.sampling import sample_per_group

    docs = _t(spark, sf_dir, "documents")
    return sample_per_group(docs, "lang", k=20).select("doc_id", "lang")


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (operators.text.chunk_documents): 64-token
    chunks with 8-token overlap — integer window arithmetic over
    whitespace tokens, exactly reproducible in SQL."""
    from facolos_data_pipelines_spark.operators.text import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=64, overlap=8)


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (operators.text.redact_pii) over documents with
    deterministic synthetic PII appended (email + ipv4 derived from
    doc_id) — RE2-compatible patterns, so counts and the redacted text
    are byte-identical across engines."""
    from facolos_data_pipelines_spark.operators.text import redact_pii

    docs = _t(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
        ).alias("text"),
    )
    out = redact_pii(seeded)
    return out.select("doc_id", "n_email", "n_ipv4", "n_phone", "clean_text")


def q_schedule_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production health report (quality.monitor.production_health):
    schedule accuracy over daily event-derived cycles vs a 1440-minute
    target (monitor_airflow_production.py:82-114), success rate,
    table-integrity score over five staging tables, and the 20/30/20/
    20/10 health-score rubric (:274-309). Interval math on whole unix
    seconds, one /60 after averaging — cross-engine exact."""
    from facolos_data_pipelines_spark.quality.checks import multi_table_summary
    from facolos_data_pipelines_spark.quality.monitor import production_health

    metrics = _event_cycles(spark, sf_dir)
    tables = {
        name: _t(spark, sf_dir, name)
        for name in ["orders", "lineitem", "customer", "documents", "embeddings"]
    }
    return production_health(
        metrics, multi_table_summary(tables), target_interval_minutes=1440.0
    ).select(
        "success_rate_pct",
        "actual_avg_interval_minutes",
        "schedule_accurate",
        F.round(F.col("data_integrity_score") + 1e-6, 2).alias("data_integrity_score"),
        "health_score",
        "health_band",
    )


def q_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame sampling (operators.multimodal
    .sample_video_frames): every-30th-frame selection is pure Spark
    (sequence + explode), so it is oracle-checkable; synthetic videos
    derive n_frames from document metadata."""
    from facolos_data_pipelines_spark.operators.multimodal import sample_video_frames

    docs = _t(spark, sf_dir, "documents")
    videos = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit(None).cast("binary").alias("payload"),
        F.lit("h264").alias("codec"),
        F.lit(24.0).alias("fps"),
        ((F.col("n_chars") % 300) + 1).cast("int").alias("n_frames"),
        F.col("n_chars").alias("n_bytes"),
    )
    out = sample_video_frames(videos, every_n=30)
    return out.select(
        "media_id", F.col("frame_index").cast("long").alias("frame_index"), "frame_ts_s"
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[NQ] Image feature extraction through the real mapInPandas/Arrow
    plumbing with REAL payloads end to end: per-doc genuine 8x8 RGB
    PNGs (multimodal.synthesize_image_corpus, stdlib encoder) are
    decoded by the stdlib PNG reader inside
    multimodal.extract_image_features — every row reports
    decode_mode='real', so the bench measures the actual decode path,
    not the deterministic-fake fallback. Hash-certified via the
    bounded-oracle projection below."""
    from facolos_data_pipelines_spark.operators.multimodal import (
        extract_image_features,
        synthesize_image_corpus,
    )

    docs = _t(spark, sf_dir, "documents")
    images = synthesize_image_corpus(
        docs.select(F.col("doc_id").alias("media_id")), width=8, height=8
    )
    out = extract_image_features(images)
    # bounded-oracle projection (approx_distinct convention): the PNG
    # byte count and the per-id pixel values are build/RNG artifacts,
    # but their envelopes are mathematical — and decode_mode='real' is
    # the EXACT hash-checked claim that the genuine decoder ran. The
    # booleans reference n_bytes/mean_pixel, so the codec stage stays
    # in the timed plan.
    return out.select(
        "media_id",
        (F.col("n_bytes") > 57).alias("payload_nonempty"),  # min PNG size
        F.col("mean_pixel").between(64.0, 192.0).alias("mean_pixel_in_envelope"),
        F.size("features").alias("feature_dim"),
        "decode_mode",
    )


def q_audio_signal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction (multimodal.audio_features) over REAL
    PCM16 WAV payloads (multimodal.synthesize_audio_corpus, stdlib
    wave encoder; id-derived sine frequency): stdlib wave decode +
    RMS + rfft band energies, decode_mode='real' on every row.
    Hash-certified via the bounded-oracle projection: a 0.5-amplitude
    sine's RMS is A/sqrt(2)=0.35355 (quantization noise < 1e-4, the
    envelope is generous), the WAV container is exactly 44 header
    bytes + 2 per sample, and the measured duration n/sr = 0.2 is an
    exact double."""
    from facolos_data_pipelines_spark.operators.multimodal import (
        audio_features,
        synthesize_audio_corpus,
    )

    docs = _t(spark, sf_dir, "documents")
    audio = synthesize_audio_corpus(
        docs.select(F.col("doc_id").alias("media_id")),
        sample_rate=8000,
        duration_s=0.2,
    )
    out = audio_features(audio)
    return out.select(
        "media_id",
        "n_bytes",
        F.col("rms").between(0.33, 0.38).alias("rms_in_envelope"),
        F.round(F.col("measured_duration_s") + 1e-8, 4).alias("duration_s"),
        F.size("features").alias("feature_dim"),
        "decode_mode",
    )


def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite training-data pipeline: quality filter (>= 10 words) ->
    exact near-dup removal on the normalized-content fingerprint (keep
    lowest doc_id) -> fingerprinted survivor corpus. Integer/string
    semantics only, so fully oracle-checkable."""
    from facolos_data_pipelines_spark.operators.dedup import normalized_words

    docs = _t(spark, sf_dir, "documents")
    words = normalized_words("text")
    base = docs.select(
        "doc_id",
        "lang",
        F.size(words).cast("long").alias("n_tokens"),
        F.md5(F.array_join(words, " ")).alias("fp_content"),
    ).filter(F.col("n_tokens") >= 10)
    w = Window.partitionBy("fp_content").orderBy(F.col("doc_id").asc())
    return (
        base.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (operators.events.session_stats): one
    window pass per user (lag + running sum sharing a single Window
    node, one shuffle), then a partition-compatible per-session rollup.
    30-minute gap over the events table; durations are exact integer
    milliseconds so the SQL twin hash-matches."""
    from facolos_data_pipelines_spark.operators.events import session_stats

    events = _t(spark, sf_dir, "events")
    out = session_stats(
        events, "user_id", "ts", gap_minutes=30, tiebreak_cols=["event_id"]
    )
    return out.select(
        "user_id",
        F.col("session_idx").cast("long").alias("session_idx"),
        "session_start",
        "session_end",
        "n_events",
        "duration_ms",
        F.round(F.col("total_value") + 1e-6, 2).alias("total_value"),
    )


def q_asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (operators.events.asof_join): each purchase
    event gains the user's most recent click at-or-before it. Merge
    formulation — union + last-ignore-nulls over one user_id shuffle,
    not a range join — checked against DuckDB's native ASOF JOIN."""
    from facolos_data_pipelines_spark.operators.events import asof_join

    events = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_event_id")
    )
    out = asof_join(
        purchases,
        clicks,
        "user_id",
        "ts",
        ["click_event_id"],
        suffix="_click",
        right_tiebreak="click_event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.col("ts_click").alias("click_ts"),
        F.col("click_event_id_click").alias("click_event_id"),
    )


def q_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (operators.events.asof_join,
    direction='forward'): each click gains the user's next purchase
    at-or-after it (time-to-convert shape) — same single-shuffle merge
    formulation scanned in reverse; checked against DuckDB's native
    forward ASOF JOIN."""
    from facolos_data_pipelines_spark.operators.events import asof_join

    events = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_event_id")
    )
    out = asof_join(
        clicks,
        purchases,
        "user_id",
        "ts",
        ["purchase_event_id"],
        suffix="_p",
        direction="forward",
        right_tiebreak="purchase_event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_p").alias("purchase_ts"),
        F.col("purchase_event_id_p").alias("purchase_event_id"),
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators.text.decontaminate): count
    distinct 3-gram shingles shared with a held-out benchmark slice
    (doc_id % 50 == 0) and flag overlapping training docs. The
    benchmark gram set broadcasts; the corpus is scanned once."""
    from facolos_data_pipelines_spark.operators.text import decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    return decontaminate(train, bench, n=3)


def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-k bigrams (operators.text.top_ngrams): explode +
    partial-agg count + TakeOrderedAndProject top-20, ties broken on
    the gram string."""
    from facolos_data_pipelines_spark.operators.text import top_ngrams

    docs = _t(spark, sf_dir, "documents")
    return top_ngrams(docs, n=2, k=20)


def q_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment (similarity.assign_nearest_centroid)
    with deterministic centroids (the 8 lowest vec_ids) — the
    oracle-certified JVM twin of the Arrow ivf_assign path: broadcast
    centroids, zip_with/aggregate squared L2 in index order, argmin via
    min(struct(dist, cid)). No shuffle wider than the final id agg."""
    from facolos_data_pipelines_spark.operators.similarity import (
        assign_nearest_centroid,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cluster_id"), F.col("embedding").alias("centroid")
    )
    out = assign_nearest_centroid(emb, cents)
    return out.select(
        "vec_id",
        "cluster_id",
        F.round(F.col("sq_dist") + 1e-6, 4).alias("sq_dist"),
    )


def q_quality_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-quartile quality curation (sampling.filter_by_score_quantile
    over text.quality_score): exact interpolated percentile threshold
    broadcast back over the corpus — the oracle-certified twin of the
    percentile_approx scale path (same plan shape, sketch vs exact
    threshold)."""
    from facolos_data_pipelines_spark.operators.sampling import (
        filter_by_score_quantile,
    )
    from facolos_data_pipelines_spark.operators.text import quality_score

    docs = _t(spark, sf_dir, "documents")
    scored = quality_score(docs).select("doc_id", "quality_score")
    kept = filter_by_score_quantile(scored, "quality_score", q=0.75, approx=False)
    return kept.select(
        "doc_id", F.round(F.col("quality_score") + 1e-8, 4).alias("quality_score")
    )


def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window counts (1-hour windows every 30 minutes): each
    event lands in exactly 2 windows. Spark's window() expands to the
    window set JVM-side (an Expand of factor window/slide, then one
    shuffle on (window, type) with map-side partial counts)."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), F.col("event_type")
        )
        .agg(F.count("*").cast("long").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time interval join (batch twin of
    streaming.stream_stream_interval_join): purchases within 1 hour
    after a click, same user. Equi-join on user_id with the time range
    as a post-join filter — a sort-merge join keyed on user, never a
    cartesian range join."""
    events = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    return (
        clicks.join(purchases, "user_id")
        .filter(
            (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR"))
        )
        .select("user_id", "click_id", "click_ts", "purchase_id", "purchase_ts")
    )


def q_snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-snapshot distribution drift (quality.checks.snapshot_drift):
    pre-1996 vs 1996+ orders, one single-scan profile per snapshot
    joined on column name; exact counts + one division per flag input."""
    from facolos_data_pipelines_spark.quality.checks import snapshot_drift

    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderdate") < "1996-01-01")
    b = orders.filter(F.col("o_orderdate") >= "1996-01-01")
    return snapshot_drift(a, b, ["o_totalprice", "o_custkey", "o_orderstatus"])


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view -> click -> purchase
    (operators.events.funnel_counts): stacked running-max window flags
    over ONE key sort (funnel depth adds no extra shuffles), per-key
    max, global sums."""
    from facolos_data_pipelines_spark.operators.events import funnel_counts

    events = _t(spark, sf_dir, "events")
    return funnel_counts(
        events, ["view", "click", "purchase"], tiebreak_cols=["event_id"]
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention (operators.events.cohort_retention):
    first-active week per user, distinct weekly activity, integer
    epoch-week periods — count of active users per (cohort, period)."""
    from facolos_data_pipelines_spark.operators.events import cohort_retention

    events = _t(spark, sf_dir, "events")
    return cohort_retention(events)


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD history (operators.merge.scd2_history): per-customer
    order-status change log with validity intervals — one key shuffle,
    lag change-detection and lead interval windows share partitioning."""
    from facolos_data_pipelines_spark.operators.merge import scd2_history

    orders = _t(spark, sf_dir, "orders")
    return scd2_history(
        orders,
        keys=["o_custkey"],
        tracked=["o_orderstatus"],
        order_col="o_orderdate",
        tiebreakers=["o_orderkey"],
    )


def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crosstab reshape (operators.conform.pivot_aggregate): revenue by
    order year pivoted wide over status. Explicit pivot values — single
    groupBy pass, no distinct discovery scan, fixed declared schema."""
    from facolos_data_pipelines_spark.operators.conform import pivot_aggregate

    orders = _t(spark, sf_dir, "orders")
    base = orders.select(
        F.year("o_orderdate").cast("long").alias("order_year"),
        "o_orderstatus",
        "o_totalprice",
    )
    wide = pivot_aggregate(
        base, ["order_year"], "o_orderstatus", ["O", "F", "P"], "o_totalprice", "sum",
        prefix="revenue_",
    )
    return wide.select(
        "order_year",
        *[F.round(F.col(f"revenue_{v}") + 1e-6, 2).alias(f"revenue_{v}") for v in ("O", "F", "P")],
    )


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 TF-IDF terms (operators.text.tfidf_top_terms):
    smoothed sklearn idf, in-plan corpus count (1-row broadcast),
    deterministic (rounded score desc, term asc) ranking."""
    from facolos_data_pipelines_spark.operators.text import tfidf_top_terms

    docs = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=3)


def q_pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-local sequence packing (operators.text.pack_documents):
    portable md5 shard + id-ordered token cumsum -> pack_id; one
    shuffle on the shard key, next-fit with <=1 straddler per pack."""
    from facolos_data_pipelines_spark.operators.text import pack_documents

    docs = _t(spark, sf_dir, "documents")
    return pack_documents(docs, max_tokens=512, num_shards=4)


def q_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS/semi-join surface (TPC-H Q4 shape): orders in the 1996
    ship window having at least one returned lineitem, counted by
    priority. left_semi — the probe side never duplicates or widens."""
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    returned = lineitem.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        orders.filter(F.col("o_orderdate").between(SHIP_START, SHIP_END))
        .join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("long").alias("n_orders"))
    )


def q_snapshot_diff_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC diff of two synthetic order-table versions
    (operators.merge.snapshot_diff): one full-outer null-safe key join,
    column-wise IS-DISTINCT comparison, added/removed/changed labels."""
    from facolos_data_pipelines_spark.operators.merge import snapshot_diff

    orders = _t(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 7 != 0)
    new = orders.filter(F.col("o_orderkey") % 5 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 11 == 0, F.col("o_totalprice") + 10.0
        ).otherwise(F.col("o_totalprice")),
    )
    return snapshot_diff(
        old, new, ["o_orderkey"], compare_cols=["o_totalprice", "o_orderstatus"]
    )


def q_mix_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mixture downsampling (operators.sampling.mix_to_weights):
    in-plan group counts -> max consistent total -> per-group md5-hash
    keep fractions; fully deterministic and engine-portable."""
    from facolos_data_pipelines_spark.operators.sampling import mix_to_weights

    docs = _t(spark, sf_dir, "documents")
    return mix_to_weights(
        docs, "lang", {"en": 0.5, "es": 0.2, "de": 0.2, "fr": 0.05, "zh": 0.05}
    )


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-order clustering key (operators.skew.zorder_key):
    8-bit interleave of two bucketed dims — pure bitwise codegen
    expressions, the sort key behind write_zordered's layout."""
    from facolos_data_pipelines_spark.operators.skew import zorder_key

    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        zorder_key([F.col("o_custkey") % 256, F.col("o_orderkey") % 256], bits=8).alias(
            "zkey"
        ),
    )


def q_rolling_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-5-row per-user rolling features
    (operators.events.rolling_stats): one key shuffle, one Window node,
    five sliding-frame aggregates."""
    from facolos_data_pipelines_spark.operators.events import rolling_stats

    events = _t(spark, sf_dir, "events")
    return rolling_stats(
        events.select("event_id", "user_id", "ts", "value"),
        key_col="user_id",
        order_col="ts",
        value_col="value",
        n_rows=5,
        tiebreak_cols=["event_id"],
    )


def q_referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK-integrity gate (quality.checks.referential_check): lineitem
    against a parent subset with every third order removed — keys-only
    anti-join, NULL FKs exempt per SQL MATCH SIMPLE."""
    from facolos_data_pipelines_spark.quality.checks import referential_check

    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    parent = orders.filter(F.col("o_orderkey") % 3 != 0)
    return referential_check(lineitem, parent, ["l_orderkey"], ["o_orderkey"])


def q_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report window aggregate: each nation's share of its
    region's revenue — broadcast dim joins, one group agg, then a
    window SUM over the tiny aggregate (the share math never touches
    fact-table rows)."""
    from facolos_data_pipelines_spark.session import load_tables

    t = load_tables(
        spark, sf_dir, ["customer", "orders", "lineitem", "supplier", "nation", "region"]
    )
    rev = (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            t["supplier"],
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) + 1e-6, 2
            ).alias("revenue")
        )
    )
    w = Window.partitionBy("region")
    return rev.select(
        "region",
        "nation",
        "revenue",
        F.round(F.col("revenue") / F.sum("revenue").over(w) + 1e-9, 6).alias(
            "revenue_share"
        ),
    )


def q_window_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank window functions (ntile / percent_rank /
    cume_dist) per status over a deterministic (price, key) total
    order — the §2.6 window surface beyond row_number."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).cast("long").alias("price_quartile"),
        F.round(F.percent_rank().over(w) + 1e-9, 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w) + 1e-9, 6).alias("cume_dist"),
    )


def q_daily_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day revenue delta over the daily aggregate. The lag
    window is PARTITIONED BY YEAR (a decade-long range would otherwise
    serialize every day into one task) and the January-1 boundary rows
    are stitched by a broadcast join against each year's last-day
    revenue, so the result equals the unpartitioned lag wherever the
    previous calendar year has data — the delta is NULL on the global
    first day and after a whole-year gap (where "day-over-day" is
    meaningless anyway). Oracle twin mirrors the stitch identically."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("order_date")).agg(
        F.round(F.sum("o_totalprice") + 1e-6, 2).alias("revenue")
    )
    yr = F.year("order_date")
    w = Window.partitionBy(yr).orderBy("order_date")
    lagged = daily.select(
        "order_date",
        "revenue",
        F.lag("revenue").over(w).alias("_prev"),
        yr.alias("_yr"),
    ).withColumn(
        # equi probe key: only year-start rows (lag NULL) look up the
        # previous year; NULL keys never match, keeping the join equi
        # (BroadcastHashJoin) with no residual condition
        "_probe_yr",
        F.when(F.col("_prev").isNull(), F.col("_yr") - 1),
    )
    year_last = daily.groupBy(yr.alias("_yl_yr")).agg(
        F.max_by("revenue", "order_date").alias("_last_rev")
    )
    return (
        lagged.join(
            F.broadcast(year_last), F.col("_probe_yr") == F.col("_yl_yr"), "left"
        )
        .select(
            "order_date",
            "revenue",
            F.round(
                F.col("revenue") - F.coalesce("_prev", "_last_rev") + 1e-9, 2
            ).alias("revenue_delta"),
        )
    )


def q_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window aggregation (30-min gap) — the
    built-in twin of operators.events.sessionize; the oracle rebuilds
    the same sessions with lag/cumsum SQL, proving the two
    formulations agree. session end = last event + gap by definition."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value") + 1e-6, 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def q_group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact percentiles (median + p90 of order value by
    status) — F.percentile shares DuckDB quantile_cont's linear
    interpolation (the column_profile parity), so the values
    hash-match; percentile_approx is the documented 100 TB swap."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", 0.5) + 1e-6, 2).alias("p50_price"),
        F.round(F.percentile("o_totalprice", 0.9) + 1e-6, 2).alias("p90_price"),
        F.count("*").cast("long").alias("n_orders"),
    )


def q_incremental_daily_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental data-mart maintenance (operators.merge.
    merge_aggregate): pre-1997 daily sales held as stored aggregate
    state, the 1997+ orders folded in as a raw batch. The oracle is the
    DIRECT full recompute — proving fold(state, batch) == recompute,
    the invariant that lets a 100 TB mart update in O(batch) per cycle
    instead of the reference's per-cycle rebuild."""
    from facolos_data_pipelines_spark.operators.merge import merge_aggregate

    orders = _t(spark, sf_dir, "orders")
    cut = "1997-01-01"
    sale_date = F.to_date("o_orderdate").alias("sale_date")
    existing = (
        orders.filter(F.col("o_orderdate") < cut)
        .groupBy(sale_date)
        .agg(
            F.sum("o_totalprice").alias("revenue"),
            F.count("*").cast("long").alias("n_rows"),
        )
    )
    batch = orders.filter(F.col("o_orderdate") >= cut).select(
        sale_date, F.col("o_totalprice").alias("revenue")
    )
    merged = merge_aggregate(existing, batch, ["sale_date"], ["revenue"])
    return merged.select(
        "sale_date",
        F.round(F.col("revenue") + 1e-6, 2).alias("revenue"),
        "n_rows",
    )


def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT join customer->orders (zero-order
    customers kept), per-customer order count, then the distribution
    of counts — outer join + double aggregation."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(
        F.count("*").cast("long").alias("n_customers")
    )


def q_incremental_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental distinct-customers-per-year via mergeable HLL
    sketches (operators.merge.merge_distinct_sketch): pre-1997 state +
    1997+ batch folded by sketch union. The Datasketches HLL binary and
    its estimator are Spark-specific (DuckDB uses a different sketch),
    so the oracle instead BOUND-CHECKS: each year's row is (exact
    distinct count, estimate-within-5%) vs the oracle's (exact, TRUE) —
    hash-identical iff every per-year estimate honors the bound
    (lgk=12 => rsd ~1.6%, asserted at ~3 sigma)."""
    from facolos_data_pipelines_spark.operators.merge import (
        distinct_estimate,
        merge_distinct_sketch,
    )

    orders = _t(spark, sf_dir, "orders")
    cut = "1997-01-01"
    year = F.year("o_orderdate").cast("long").alias("order_year")
    existing = (
        orders.filter(F.col("o_orderdate") < cut)
        .select(year, "o_custkey")
        .groupBy("order_year")
        .agg(F.hll_sketch_agg("o_custkey", F.lit(12)).alias("hll_sketch"))
    )
    batch = orders.filter(F.col("o_orderdate") >= cut).select(year, "o_custkey")
    merged = merge_distinct_sketch(existing, batch, ["order_year"], "o_custkey")
    est = distinct_estimate(merged)
    exact = orders.groupBy(year).agg(
        F.countDistinct("o_custkey").cast("long").alias("exact_customers")
    )
    rel_err = (
        F.abs(F.col("n_distinct_est") - F.col("exact_customers"))
        / F.col("exact_customers")
    )
    return (
        est.join(exact, "order_year")
        .select(
            "order_year",
            "exact_customers",
            (rel_err <= F.lit(0.05)).alias("within_rsd"),
        )
        .orderBy("order_year")
    )


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (sampling.weighted_sample, Efraimidis-Spirakis over the portable
    md5 fraction): top-50 documents by u^(1/n_chars) priority —
    TakeOrderedAndProject, no corpus shuffle."""
    from facolos_data_pipelines_spark.operators.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    return weighted_sample(docs, "n_chars", k=50)


def q_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured parsing surface: events.props JSON parsed with a
    DECLARED schema (from_json — JVM-side Jackson, typed struct out,
    the S6 explicit-schema principle applied to embedded JSON), then
    aggregated per event type."""
    events = _t(spark, sf_dir, "events")
    parsed = events.select(
        "event_type", F.from_json("props", "k INT").alias("p")
    )
    return parsed.groupBy("event_type").agg(
        F.round(F.avg(F.col("p.k")) + 1e-6, 2).alias("avg_k"),
        F.max(F.col("p.k")).cast("long").alias("max_k"),
        F.count("*").cast("long").alias("n_events"),
    )


def q_repeat_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation surface beyond union: customers active in BOTH
    1996 and 1997 (INTERSECT) plus the 1996-only churned set (EXCEPT),
    labeled — Spark intersect/exceptAll compile to left-semi/anti
    aggregates, one shuffle each over key projections."""
    orders = _t(spark, sf_dir, "orders")
    y96 = (
        orders.filter(F.year("o_orderdate") == 1996).select("o_custkey").distinct()
    )
    y97 = (
        orders.filter(F.year("o_orderdate") == 1997).select("o_custkey").distinct()
    )
    both = y96.intersect(y97).withColumn("cohort", F.lit("repeat"))
    churned = y96.exceptAll(y97).withColumn("cohort", F.lit("churned"))
    return both.unionByName(churned)


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (correlated scalar subquery): revenue from
    lineitems under 20% of their part's average quantity. Spark plans
    the per-part threshold as a groupBy + equi-join back — the
    decorrelated form; the oracle keeps the correlated subquery.
    Threshold rounded on both sides so avg summation-order ulp drift
    cannot flip the boundary compare."""
    li = _t(spark, sf_dir, "lineitem")
    thr = li.groupBy("l_partkey").agg(
        F.round(0.2 * F.avg("l_quantity") + 1e-9, 6).alias("thr")
    )
    return (
        li.join(thr, "l_partkey")
        .filter(F.col("l_quantity") < F.col("thr"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0 + 1e-6, 2).alias("avg_yearly"))
    )


def q_scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension read (operators.merge.scd2_lookup): each
    customer's order-status version valid at 1996-06-01 — the SCD2
    history narrowed by one interval predicate."""
    from facolos_data_pipelines_spark.operators.merge import scd2_history, scd2_lookup

    orders = _t(spark, sf_dir, "orders")
    hist = scd2_history(
        orders,
        keys=["o_custkey"],
        tracked=["o_orderstatus"],
        order_col="o_orderdate",
        tiebreakers=["o_orderkey"],
    )
    return scd2_lookup(hist, "1996-06-01 00:00:00")


def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication report: rows minus distinct content
    hashes per source (the curation dashboard's first column) — one
    aggregation, md5 on both engines."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        (F.count("*") - F.countDistinct(F.md5(F.col("text").cast("binary"))))
        .cast("long")
        .alias("n_dup_rows"),
    )


def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy record linkage (operators.linkage.fuzzy_join):
    customer names with the last character dropped are matched back to
    the clean registry — equi-join on a 15-char lowercased prefix
    block, length-band prune, levenshtein<=1 verify. The DuckDB twin
    reproduces blocking, band, and edit distance exactly."""
    from facolos_data_pipelines_spark.operators.linkage import fuzzy_join

    cust = _t(spark, sf_dir, "customer")
    left = cust.filter(F.col("c_custkey") % 20 == 0).select(
        F.col("c_custkey").alias("dirty_id"),
        F.expr("substring(c_name, 1, length(c_name) - 1)").alias("dirty_name"),
    )
    right = cust.select(
        F.col("c_custkey").alias("cand_id"), F.col("c_name").alias("cand_name")
    )
    out = fuzzy_join(left, right, "dirty_name", "cand_name", max_distance=1,
                     block_prefix=15)
    return out.select(
        "dirty_id", "cand_id", F.col("_distance").cast("int").alias("distance")
    )


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style line-level corpus dedup (operators.dedup.line_dedup)
    at word granularity (the synthetic corpus has no newlines): every
    token appearing in >= 78% of documents — resolved IN-PLAN from the
    corpus count, no driver collect — is cross-document boilerplate
    and is dropped; survivors reassemble in original order. Exact
    integer counts + string reassembly, byte-reproducible in SQL."""
    from facolos_data_pipelines_spark.operators.dedup import line_dedup

    docs = _t(spark, sf_dir, "documents")
    return line_dedup(docs, sep=" ", min_docs=0.78)


def q_supplier_wait(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped blame query: suppliers who were the SOLE late
    shipper on a multi-supplier finalized order (late = shipped more
    than 90 days after the order date). The EXISTS / NOT-EXISTS pair of
    the classic formulation is restated as one aggregation over
    (order, supplier) — per order: supplier count and late-supplier
    count — which costs ONE shuffle on the order key instead of two
    extra self-joins of lineitem; the supplier dim joins broadcast.
    Top-10 by wait count, name tie-break."""
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supplier = _t(spark, sf_dir, "supplier")
    j = lineitem.join(
        orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    per_os = j.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.when(late, 1).otherwise(0)).alias("_is_late")
    )
    per_o = per_os.groupBy("l_orderkey").agg(
        F.count("*").alias("_n_supp"), F.sum("_is_late").alias("_n_late")
    )
    waiters = per_os.filter(F.col("_is_late") == 1).join(
        per_o.filter((F.col("_n_supp") >= 2) & (F.col("_n_late") == 1)), "l_orderkey"
    )
    return (
        waiters.join(
            F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .groupBy("s_name")
        .agg(F.count("*").cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(10)
    )


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped market share: of all revenue on orders placed by
    ASIA-region customers, the fraction supplied by NATION_2 suppliers,
    per order year. Five-table join; nation/region broadcast
    explicitly, AQE picks strategies for the rest; two-level aggregate
    (conditional sum / total sum) in ONE grouped pass."""
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    n_c = nation.select(
        F.col("n_nationkey").alias("_cn_key"), F.col("n_regionkey").alias("_cr_key")
    )
    n_s = nation.select(
        F.col("n_nationkey").alias("_sn_key"), F.col("n_name").alias("_sn_name")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n_c), F.col("c_nationkey") == F.col("_cn_key"))
        .join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            F.col("_cr_key") == F.col("r_regionkey"),
        )
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n_s), F.col("s_nationkey") == F.col("_sn_key"))
    )
    return (
        j.groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("_sn_name") == "NATION_2", rev).otherwise(0.0))
                / F.sum(rev)
                + 1e-9,
                4,
            ).alias("mkt_share"),
            F.round(F.sum(rev) + 1e-6, 2).alias("total_revenue"),
        )
    )


def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score anomaly flags over the event stream: events
    whose value deviates from the user's mean by more than 1.7
    population standard deviations (the synthetic values are
    near-uniform, so 3-sigma would be empty by construction). One
    window shuffle on user_id — mean/stddev/count come from the same
    partition sort; no join back."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    stats = (
        events.withColumn("_mu", F.mean("value").over(w))
        .withColumn("_sd", F.stddev_pop("value").over(w))
        .withColumn("_n", F.count("*").over(w))
    )
    z = (F.col("value") - F.col("_mu")) / F.col("_sd")
    return (
        stats.filter((F.col("_n") >= 30) & (F.col("_sd") > 0))
        .filter(F.abs(z) > 1.7)
        .select(
            "event_id",
            "user_id",
            F.round(F.col("value") + 1e-9, 2).alias("value"),
            F.round(z + 1e-9, 4).alias("zscore"),
        )
    )


def q_robust_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier-resistant per-event-type value profile
    (quality.checks.robust_profile): median / quartiles / MAD and
    Tukey-fence (1.5 IQR) outlier counts — the monitor a corrupted feed
    can't re-center, unlike mean/stddev z-scores. Two fact scans total:
    grouped exact percentiles, then one fused aggregation computing MAD
    and the fence counts off the broadcast pass-1 row."""
    from facolos_data_pipelines_spark.quality.checks import robust_profile

    events = _t(spark, sf_dir, "events")
    return robust_profile(events, "value", ["event_type"], k=1.5)


def q_rolling_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day PSI drift series (quality.checks.rolling_psi_drift,
    round 9): one PSI total per calendar day of events.value scored
    against the previous day under a shared whole-window 10-bin
    quantile bucketization — the temporal drift monitor, TWO scans of
    the fact (the 1-row whole-window quantile aggregate, then the
    bucketing pass) + a tiny per-day histogram self-join. The DuckDB
    oracle
    reproduces edges, buckets, epsilon floors and the per-day sums
    exactly."""
    from facolos_data_pipelines_spark.quality.checks import rolling_psi_drift

    events = _t(spark, sf_dir, "events")
    return rolling_psi_drift(events, "ts", "value", num_bins=10)


def q_hist_state_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-state delta rows (quality.checks.hist_state, round
    10): the (day, bin, n) rows ONE ingestion day appends to the
    persisted drift-state table — events.value of 2024-01-20 bucketed
    under 10-quantile edges PINNED from the bootstrap window (days <=
    2024-01-15), the store contract that keeps every append cycle's
    counts comparable (edges are part of the schema, like the band
    states' hash families). One narrow scan of the batch; the appended
    state is days x bins rows, so the monitoring loop never re-reads
    history (gram_state_append's drift-monitor sibling; loop measured
    in SCALE.md §6i). The DuckDB oracle reproduces the bootstrap edges
    (quantile_cont == Spark percentile), the strict-> bucketing and
    the grouped counts exactly."""
    from facolos_data_pipelines_spark.quality.checks import hist_edges, hist_state

    events = _t(spark, sf_dir, "events")
    boot = events.filter(F.to_date("ts") <= F.lit("2024-01-15"))
    batch = events.filter(F.to_date("ts") == F.lit("2024-01-20"))
    edges = hist_edges(boot, "value", num_bins=10)
    return hist_state(batch, "ts", "value", edges).orderBy("day", "bin")


def q_psi_state_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental drift loop scored end-to-end
    (quality.checks.psi_from_hist_state, round 10): day-over-day PSI
    of events.value under edges pinned from the bootstrap window (days
    <= 2024-01-15) with the whole window's (day, bin, n) state rows
    built under those edges — the series a daily pipeline reads from
    the persisted state table WITHOUT ever rescanning historical facts
    (the parquet append loop itself is pytest-pinned and measured in
    SCALE.md §6i; this certified twin builds the same state in-query
    so the oracle can see it). Differs from rolling_psi_drift by the
    store contract: edges anchor to the REFERENCE distribution instead
    of re-centering on the whole window, so a persistent shift keeps
    scoring against where the data started, not where it drifted to."""
    from facolos_data_pipelines_spark.quality.checks import (
        hist_edges,
        hist_state,
        psi_from_hist_state,
    )

    events = _t(spark, sf_dir, "events")
    boot = events.filter(F.to_date("ts") <= F.lit("2024-01-15"))
    edges = hist_edges(boot, "value", num_bins=10)
    state = hist_state(events, "ts", "value", edges)
    return psi_from_hist_state(state, num_bins=10).orderBy("day")


def q_hist_edges_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The histogram store's re-bootstrap guard
    (quality.checks.hist_edges_drift, round 11): per-day share of mass
    landing in the two open-end terminal bins of the edge family
    PINNED from the bootstrap window (days <= 2024-01-15), flagged at
    threshold 0.4 (~2x the 10-bin bootstrap expectation) — the signal
    that the monitored distribution has OUTGROWN its edges and PSI's
    resolution over the drifted region is gone (mass past either edge
    piles into an unbounded bin invisibly; two differently-shifted
    days can even look alike). Closes the loop on the store contract:
    hist_edges pins, hist_state appends, psi_from_hist_state scores,
    and THIS is what tells the loop to re-bootstrap. Reads only
    days x bins state rows — broadcast-tiny at any corpus scale. The
    reference anchor is the alert-on-degradation contract of
    src/monitoring/production_monitor.py:84-125 (threshold rules over
    monitor series)."""
    from facolos_data_pipelines_spark.eager import materialize
    from facolos_data_pipelines_spark.quality.checks import (
        hist_edges,
        hist_edges_drift,
        hist_state,
        pinned_edges,
    )

    events = _t(spark, sf_dir, "events")
    boot = events.filter(F.to_date("ts") <= F.lit("2024-01-15"))
    # collect the pinned family ONCE and share the list (one bootstrap
    # aggregate); passing edges to the guard derives the bin count from
    # the family itself, the mismatch-proof call form
    edges = pinned_edges(
        hist_edges(boot, "value", num_bins=10), "q_hist_edges_drift"
    )
    state = materialize(hist_state(events, "ts", "value", edges))
    return hist_edges_drift(state, threshold=0.4, edges=edges).orderBy("day")


def q_hist_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimates merged from histogram state
    (quality.checks.quantiles_from_hist_state, round 11), certified as
    a BOUNDED oracle (the ann_recall pattern): the pinned-edges
    histogram is a mergeable quantile sketch — cumulative bin mass is
    EXACTLY the count of values <= each edge under the strict-``>``
    bucketing — so the incremental profile loop answers percentile
    questions from days x bins state rows with error bounded by bin
    width, never rescanning a fact. This query reads q in {0.1, 0.5,
    0.9} of events.value from in-query state under bootstrap-pinned
    edges AND computes the exact discrete quantile (the value at
    1-based index ceil(q*n) of the sorted non-null values — the
    deliberate exact comparator, a global sort at certification scale
    only), then pins the containment bound: the true quantile provably
    lands in the picked bin's edge interval (strict > lo, <= hi; an
    open-end terminal bin bounds one side only — the case
    hist_edges_drift exists to flag). The DuckDB twin reproduces the
    identical state arithmetic (same cumulative fractions, same
    interpolation expression, quantile_cont == Spark percentile for
    the edges) and the same in_bin booleans, so the value hash matches
    iff both the estimates AND the bound hold on both engines."""
    from facolos_data_pipelines_spark.eager import materialize
    from facolos_data_pipelines_spark.quality.checks import (
        hist_edges,
        hist_state,
        pinned_edges,
        quantiles_from_hist_state,
    )

    events = _t(spark, sf_dir, "events")
    boot = events.filter(F.to_date("ts") <= F.lit("2024-01-15"))
    # one bootstrap aggregate, shared edge list, materialized state
    edges = pinned_edges(
        hist_edges(boot, "value", num_bins=10), "q_hist_percentiles"
    )
    state = materialize(hist_state(events, "ts", "value", edges))
    qs = [0.1, 0.5, 0.9]
    # RAW estimates: the containment bound must compare unrounded
    # doubles — rounding can collapse a strict inequality to equality
    # and fake a bound violation (both engines compare raw, then round
    # the displayed columns identically)
    est = quantiles_from_hist_state(state, edges, qs, round_digits=None)

    vals = events.select(F.col("value").cast("double").alias("_v")).filter(
        F.col("_v").isNotNull() & F.to_date("ts").isNotNull()
    )
    n = vals.count()
    import math

    # robust rank: ceil on the raw double product can overshoot when
    # q*n is mathematically integral (0.1*100000 -> 10000.000000000002,
    # ceil 10001) — the value one past a bin's hi_edge would then fake
    # an in_bin=false on a boundary coincidence. Round to 9 decimals
    # first (kills FP dust, never reaches a real .5 case) — mirrored
    # EXACTLY in the DuckDB twin so the bound stays comparable.
    qidx = spark.createDataFrame(
        [(q, max(1, int(math.ceil(round(q * n, 9))))) for q in qs],
        "q double, rn long",
    )
    ranked = vals.withColumn(
        "rn", F.row_number().over(Window.orderBy("_v"))
    )
    exact = ranked.join(F.broadcast(qidx), "rn").select(
        "q", F.col("_v").alias("_exact")
    )
    out = est.join(exact, "q")
    in_bin = (
        F.col("lo_edge").isNull() | (F.col("_exact") > F.col("lo_edge"))
    ) & (
        F.col("hi_edge").isNull() | (F.col("_exact") <= F.col("hi_edge"))
    )
    r6 = lambda c: F.round(F.col(c) + F.lit(1e-9), 6)  # noqa: E731
    return out.select(
        "q",
        "bin",
        r6("lo_edge").alias("lo_edge"),
        r6("hi_edge").alias("hi_edge"),
        r6("estimate").alias("estimate"),
        r6("_exact").alias("exact_disc"),
        in_bin.alias("in_bin"),
    ).orderBy("q")


def q_hist_rebin_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The edge re-bootstrap TRANSITION end-to-end
    (quality.checks.rebin_hist_state + stitched_psi, round 12): the
    guard→recovery loop the round-11 alert (hist_edges_drift) pointed
    at. The old store accumulated events.value (day, bin, n) rows
    under 10-bin edges pinned from the bootstrap window (days <=
    2024-01-15) through 2024-01-21 — past the 2024-01-20 seam, the
    superseded-rows case; the recovery re-bootstraps an 8-bin family
    on a fresh reference window (2024-01-16..19), re-bins from the
    seam's BASELINE day (01-19, the one honest bounded fact rescan —
    mass-conservation-validated against the old store), and the
    stitched reader scores an UNBROKEN day-over-day PSI series across
    the family seam: days < seam from the frozen old store, days >=
    seam from the new store, the straddling 01-20 row scored under the
    NEW family (the family that covers both of its days) — never a
    cross-family bin-index comparison, which would score pure noise as
    drift. Reference anchor: the alert→recovery pairing of
    src/monitoring/production_monitor.py:84-125 (every threshold rule
    has an action)."""
    from facolos_data_pipelines_spark.eager import materialize
    from facolos_data_pipelines_spark.quality.checks import (
        hist_edges,
        hist_state,
        pinned_edges,
        rebin_hist_state,
        stitched_psi,
    )

    events = _t(spark, sf_dir, "events")
    # Both edge bootstraps in ONE events pass (r13, VERDICT item 4):
    # exact percentile skips NULL inputs, so percentile(when(window,
    # v)) over the full fact equals percentile(v) over the filtered
    # window — two aggregates, one scan, one collect instead of two
    # full-fact actions. Values (and therefore every downstream row)
    # are bit-identical; the collected lists feed pinned_edges' list
    # path exactly like a production loop that collects its edge
    # store once per cycle and shares it across the readers.
    _vals = events.select(
        F.to_date("ts").alias("_d"), F.col("value").cast("double").alias("_v")
    ).filter(F.col("_v").isNotNull())
    _row = _vals.agg(
        F.percentile(
            F.when(F.col("_d") <= F.lit("2024-01-15"), F.col("_v")),
            [i / 10 for i in range(1, 10)],
        ).alias("_bs_old"),
        F.percentile(
            F.when(
                F.col("_d").between("2024-01-16", "2024-01-19"), F.col("_v")
            ),
            [i / 8 for i in range(1, 8)],
        ).alias("_bs_new"),
    ).first()

    def _bs(arr, which):
        if arr is None:
            # same contract as pinned_edges on a NULL _bs store row
            raise ValueError(
                f"q_hist_rebin_stitch: the {which} bootstrap window has "
                "no values — re-bootstrap from a window that actually "
                "has values"
            )
        return pinned_edges([float(b) for b in arr], "q_hist_rebin_stitch")

    old_edges = _bs(_row["_bs_old"], "old")
    new_edges = _bs(_row["_bs_new"], "new")
    old_state = materialize(
        hist_state(
            events.filter(F.to_date("ts") <= F.lit("2024-01-21")),
            "ts", "value", old_edges,
        )
    )
    # rebin_hist_state returns a materialized frame when old_state is
    # given (the baseline probe and the stitched series reuse the
    # rescan the mass check executed)
    new_state = rebin_hist_state(
        events, "ts", "value", new_edges, "2024-01-20", old_state=old_state
    )
    return stitched_psi(
        old_state, new_state, "2024-01-20",
        old_edges=old_edges, new_edges=new_edges,
    ).orderBy("day")


def q_hist_percentiles_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily quantile series from histogram state
    (quality.checks.quantiles_from_hist_state(per_day=True), round
    12): one (day, q) row per day of events.value for q in {0.25,
    0.5, 0.9} under the bootstrap-pinned 10-bin family — the
    monitoring-grain companion of the global hist_percentiles reader
    (whose certified twin also pins the containment BOUND; this one
    certifies the per-day series arithmetic): PSI says the shape
    moved, the daily p50/p90 series says where. Everything from
    days x bins state rows + the 1-row edge store; the same
    cumulative-fraction interpolation per day, partitioned by day."""
    from facolos_data_pipelines_spark.eager import materialize
    from facolos_data_pipelines_spark.quality.checks import (
        hist_edges,
        hist_state,
        pinned_edges,
        quantiles_from_hist_state,
    )

    events = _t(spark, sf_dir, "events")
    edges = pinned_edges(
        hist_edges(
            events.filter(F.to_date("ts") <= F.lit("2024-01-15")), "value", 10
        ),
        "q_hist_percentiles_daily",
    )
    # materialized state, like the siblings: the reader's bin-overflow
    # probe already executes the aggregation once at build time
    state = materialize(hist_state(events, "ts", "value", edges))
    return quantiles_from_hist_state(
        state, edges, [0.25, 0.5, 0.9], per_day=True
    ).orderBy("day", "q")


def q_profile_state_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moments-profile state delta rows (quality.checks.profile_state,
    round 10): the (day, column, moments) rows one ingestion day
    appends — events 2024-01-20, a numeric column (value: real sums /
    squares / min / max) and a non-numeric one (event_type: real
    counts, NULL moments) — the mergeable sufficient statistics of the
    incremental column-profile loop (count/mean/std/min/max merge
    exactly; distinct and percentiles need sketches and keep the
    one-shot column_profile twins). ONE narrow scan of the batch. Sums
    are rounded to 2 decimals HERE, in the certified projection — the
    state itself stays raw so it can keep merging; 2 (not 4) because a
    whole-day Σv² reaches ~1e6 and cross-engine summation order is
    only identical to ~5e-5."""
    from facolos_data_pipelines_spark.quality.checks import profile_state

    events = _t(spark, sf_dir, "events")
    batch = events.filter(F.to_date("ts") == F.lit("2024-01-20"))
    out = profile_state(batch, "ts", ["value", "event_type"])
    r2 = lambda c: F.round(F.col(c) + F.lit(1e-9), 2)  # noqa: E731
    return out.select(
        "day", "column_name", "n_rows", "n_null",
        r2("sum_v").alias("sum_v"), r2("sum_sq").alias("sum_sq"),
        r2("min_v").alias("min_v"), r2("max_v").alias("max_v"),
    ).orderBy("day", "column_name")


def q_incremental_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The moments-profile loop scored end-to-end
    (quality.checks.profile_from_state, round 10): global per-column
    profile (n_rows, n_null, mean, std, min, max) merged from the
    whole window's per-day state rows — the profile a daily pipeline
    reads from the persisted moments table without rescanning history
    (the parquet append loop with duplicate-day merges is
    pytest-pinned; this certified twin builds the same state in-query
    so the oracle can see it). std is the sample standard deviation
    from raw moments, the formula mirrored exactly in the DuckDB twin
    rather than stddev_samp so both engines round the same number."""
    from facolos_data_pipelines_spark.quality.checks import (
        profile_from_state,
        profile_state,
    )

    events = _t(spark, sf_dir, "events")
    state = profile_state(events, "ts", ["value", "event_type"])
    return profile_from_state(state, round_digits=4).orderBy("column_name")


def q_robust_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level robust outliers (quality.checks.robust_anomaly): the
    modified z-score 0.6745*(x - median)/MAD per event_type at the
    standard |score| > 3.5 cut (Iglewicz-Hoaglin) — flags the
    exponential tail of events.value that the mean/stddev z-score's
    own corrupted inputs under-flag. Returns the flagged rows."""
    from facolos_data_pipelines_spark.quality.checks import robust_anomaly

    events = _t(spark, sf_dir, "events")
    out = robust_anomaly(
        events.select("event_id", "event_type", "value"),
        "value",
        ["event_type"],
        threshold=3.5,
    )
    return out.filter(F.col("is_outlier")).select(
        "event_id",
        "event_type",
        F.round(F.col("value") + 1e-9, 2).alias("value"),
        "mod_zscore",
    )


def q_decayed_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential time-decay user value (events.time_decayed_sum,
    half-life 30 days back from the frame's max timestamp): the
    recency-weighted feature-store signal a trailing window can't
    express (no abrupt forgetting) and a plain sum can't (stale events
    dominate). One map-side-combinable hash aggregate per user — the
    per-row weight is a scalar expression, no window sort, no join
    beyond the 1-row ref-timestamp broadcast."""
    from facolos_data_pipelines_spark.operators.events import time_decayed_sum

    events = _t(spark, sf_dir, "events")
    return time_decayed_sum(
        events.select("user_id", "ts", "value"),
        key_col="user_id",
        ts_col="ts",
        value_col="value",
        half_life_days=30.0,
    )


def q_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations
    (quality.expectations.expect): six rule types over lineitem,
    compiled into ONE aggregation over ONE scan — the reference's
    scattered pre-load validations (tiktok_shop_staging_loader.py:
    205-250) generalized into a config-driven rule list."""
    from facolos_data_pipelines_spark.quality import expect

    lineitem = _t(spark, sf_dir, "lineitem")
    return expect(
        lineitem,
        [
            {"type": "not_null", "column": "l_orderkey"},
            {"type": "unique", "columns": ["l_orderkey", "l_linenumber"]},
            {"type": "in_range", "column": "l_discount", "min": 0.0, "max": 1.0},
            {"type": "accepted_values", "column": "l_returnflag",
             "values": ["A", "N", "R"]},
            {"type": "matches_regex", "column": "l_linestatus", "pattern": "^[OF]$"},
            {"type": "expression", "expr": "l_quantity >= 0",
             "name": "non_negative_quantity"},
        ],
    )


def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnosis (operators.skew.key_skew_profile):
    the 10 heaviest supplier keys in lineitem with row share and skew
    factor — the pre-flight check before picking a partitioning or
    join key at 100 TB. Totals fold back in-plan (1-row broadcast);
    top-n is TakeOrderedAndProject."""
    from facolos_data_pipelines_spark.operators.skew import key_skew_profile

    lineitem = _t(spark, sf_dir, "lineitem")
    return key_skew_profile(lineitem, "l_suppkey", top_n=10)


def q_unigram_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram LM fluency scores
    (operators.text.unigram_logprob_scores): mean smoothed unigram
    log-probability per document — the cheap CCNet-style LM quality
    signal with the corpus as its own model. Same tokenizer as the
    dedup/text family; DuckDB reproduces ln() and the smoothing
    arithmetic exactly (4dp round for summation-order ulp)."""
    from facolos_data_pipelines_spark.operators.text import unigram_logprob_scores

    docs = _t(spark, sf_dir, "documents")
    return unigram_logprob_scores(docs)


def q_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-link duplicate clusters (dedup.connected_components) over
    the certified banded-LSH embedding near-dup pairs: min-label
    propagation with pointer doubling, O(log diameter) id-only rounds.
    The DuckDB twin recomputes the SAME pair set (the certified
    embedding_near_dups CTEs) and closes it with a recursive CTE — an
    iterative Spark algorithm certified against declarative SQL."""
    from facolos_data_pipelines_spark.operators.dedup import (
        connected_components,
        embedding_near_dup_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings")
    # certified sites pin the oracle's 6-plane/4-band/64-dim family
    # explicitly (num_planes='auto' == 6 only while the table stays
    # <= 4096 vectors; the DuckDB twin hard-codes 6 hyperplanes)
    pairs = embedding_near_dup_pairs(
        emb, threshold=0.4, num_planes=6, num_bands=4, dim=64
    )
    comp = connected_components(pairs.select("id_a", "id_b"))
    return comp.select(
        F.col("node").cast("long").alias("node"),
        F.col("component").cast("long").alias("component"),
    )


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/val/test split (sampling.leakage_safe_split)
    over the certified embedding-LSH pair set: every member of a
    duplicate component is keyed by the component label (min reachable
    id), singletons by their own id, then assigned through the md5
    hash_split contract — so near-duplicates can never straddle the
    train/eval boundary. The DuckDB twin recomputes the same pairs +
    recursive-CTE closure and the same digit-rebuilt md5 bucket."""
    from facolos_data_pipelines_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )
    from facolos_data_pipelines_spark.operators.sampling import (
        leakage_safe_split,
    )

    emb = _t(spark, sf_dir, "embeddings")
    # pinned to the oracle's 6-plane family (see q_dup_components)
    pairs = embedding_near_dup_pairs(
        emb, threshold=0.4, num_planes=6, num_bands=4, dim=64
    )
    out = leakage_safe_split(
        emb.select("vec_id"), pairs, id_col="vec_id"
    )
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"), F.col("split")
    )


#: Fixed published quality model for the certified scoring query:
#: trained by quality_model.train_quality_classifier on the sf0.01
#: documents table against text.quality_score median labels, weights
#: rounded to 4 decimals; the three features the synthetic corpus
#: could not separate (punct/upper/digit ratios came back 0.0) carry
#: small fixed penalties instead so the certified expression exercises
#: EVERY feature term. The model is a frozen artifact — the query
#: certifies the inference computation, not the weights' quality.
QUALITY_MODEL_REF = {
    "intercept": 0.2934,
    "weights": {
        "f_len": -2.2222,
        "f_avg_word_len": 0.2459,
        "f_punct_ratio": -1.5,
        "f_upper_ratio": -0.5,
        "f_digit_ratio": -0.75,
        "f_distinct_ratio": -9.2608,
        "f_stopword_ratio": 70.946,
    },
}


#: Frozen PCA basis for the certified projection query: trained by
#: similarity.pca_train on the sf0.01 embeddings (top 4 of 64
#: components, deterministic sign convention), rounded to 6 decimals
#: so both engines compute from identical literals. Synthetic
#: embeddings are isotropic, so explained variance is flat (~2.7%
#: per component) - the query certifies the projection COMPUTATION
#: (fold order, centering algebra), the same contract as
#: QUALITY_MODEL_REF.
PCA_MODEL_REF = {"mean": [0.002165, -0.004548, 0.00393, -0.004793, 0.009943, 0.007773, -0.018231, 0.009217, -0.002427, -0.000618, 0.006436, 0.003354, -0.002659, 0.002054, -0.000215, 0.00591, 0.003334, 0.005826, -0.000461, 0.001232, -0.003839, 0.002302, 0.004168, -0.008055, -0.001891, 0.012808, -0.001597, 0.010626, -0.001153, 0.00039, 0.005605, -0.005793, 0.008335, -0.006675, 0.005156, 0.001177, -0.005335, -0.001594, -0.000967, -0.001141, -0.001744, -0.011834, 0.000314, -0.000563, -0.011521, 0.003833, -0.000598, 0.00589, -0.00375, -0.010264, 0.009377, -0.001482, 0.00777, -0.003918, 0.00471, -0.003577, 0.004774, -0.00247, -0.004845, -0.008721, -0.000281, 0.005004, -0.001159, -0.013266], "components": [[-0.209639, -0.120573, 0.036548, 0.01182, 0.07567, 0.013215, 0.090584, 0.286619, 0.049547, 0.414057, 0.065305, 0.182079, 0.065132, -0.036532, 0.171149, -0.18535, 0.08899, -0.157027, -0.030137, 0.032179, 0.061213, -0.110688, -0.083475, -0.055437, 0.01955, 0.199125, -0.037517, 0.149508, -0.17288, -0.006123, -0.058716, 0.062038, 0.296539, 0.106165, -0.032042, 0.104144, 0.044539, 0.061464, 0.013007, 0.021771, -0.116679, 0.005525, -0.240837, 0.095708, -0.028308, -0.225127, 0.008732, -0.079038, -0.083681, -0.118451, 0.120459, 0.072483, -0.017186, 0.081604, -0.015031, -0.066765, -0.055651, -0.051376, 0.060196, -0.091139, 0.121987, 0.05065, -0.218211, -0.102014], [-0.003837, -0.05443, -0.012568, -0.088134, 0.174858, 0.025214, 0.074947, -0.069981, 0.077448, 0.030696, 0.105758, -0.017883, 0.012976, 0.133697, 0.014559, 0.041392, 0.148411, 0.36031, -0.054189, -0.050765, 0.032543, 0.035391, 0.065335, -0.309123, -0.257682, -0.239066, -0.020638, -0.000223, -0.086286, -0.174533, -0.024068, -0.217545, 0.029464, 0.061539, 0.033753, 0.07922, 0.059467, 0.036498, 0.182107, 0.046674, 9e-06, 0.046987, -0.062767, -0.17919, 0.172686, -0.188835, -0.046946, 0.145779, 0.112924, -0.113281, -0.157431, -0.081975, 0.01298, -0.016092, 0.238035, 0.023384, -0.30282, 0.016383, 0.135434, -0.121586, -0.08367, 0.084839, -0.000443, -0.078616], [-0.148044, -0.085124, -0.063947, -0.000458, -0.204375, -0.043742, 0.117755, -0.284498, 0.044402, 0.023717, -0.05118, 0.035702, -0.06018, -0.034551, 0.00945, -0.234546, 0.171374, -0.084928, 0.116047, 0.077328, 0.013132, 0.175308, -0.100648, 0.053375, 0.092557, 0.100084, 0.090637, -0.134142, 0.010278, -0.105405, -0.12286, 0.090912, 0.048252, -0.180661, -0.02977, -0.102163, 0.139078, -0.212552, -0.063457, -0.103929, 0.18948, 0.19011, -0.125856, -0.208933, 0.165866, 0.052836, 0.042798, 0.01802, -0.06832, -0.051276, -0.129498, -0.106455, 0.2278, -0.153295, -0.179152, -0.00192, -0.005381, 0.109725, 0.182795, -0.052685, -0.069558, 0.288431, -0.090081, -0.075531], [0.068087, 0.062692, 0.008781, 0.172527, -0.257961, 0.107129, -0.023209, 0.177543, -0.11522, 0.136202, 0.007641, 0.20195, -0.060775, -0.140219, -0.093114, 0.049308, 0.096825, 0.071424, -0.009319, -0.203168, -0.225473, 0.157659, -0.011856, 0.073232, 0.027471, -0.119083, 0.116454, -0.003835, 0.128924, -0.104523, 0.152117, 0.200575, -0.081413, -0.017677, -0.116503, 0.31619, -0.116719, -0.148434, -0.010252, -0.048289, -0.014508, -0.000179, -0.085653, -0.017435, -0.075734, -0.041521, -0.01362, 0.369404, -0.108511, -0.153446, 0.066472, -0.019778, 0.00933, 0.005401, -0.021918, 0.101473, -0.17091, 0.09293, -0.17072, -0.073918, -0.19206, -0.096219, -0.084046, 0.026297]]}


def q_quality_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring (quality_model.score_quality_model):
    sigmoid(w . features + b) with the frozen QUALITY_MODEL_REF weights
    inlined as literals — the expression-only inference path that runs
    a trained classifier over 100 TB with no ML runtime. The DuckDB
    twin recomputes every feature and the sigmoid op-for-op."""
    from facolos_data_pipelines_spark.operators.quality_model import (
        score_quality_model,
    )

    docs = _t(spark, sf_dir, "documents")
    out = score_quality_model(docs, QUALITY_MODEL_REF, threshold=0.5)
    return out.select(
        "doc_id",
        F.round(F.col("model_score") + 1e-8, 4).alias("model_score"),
        F.col("keep"),
    )


def q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection (similarity.pca_project) with the frozen
    PCA_MODEL_REF basis inlined as literals: per output dimension one
    dot_literal fold minus the precomputed mean-offset - the
    expression-only dimensionality-reduction step an ANN pipeline runs
    before IVF/PQ indexing. The DuckDB twin recomputes each component
    with the same fold and centering algebra."""
    from facolos_data_pipelines_spark.operators.similarity import pca_project

    emb = _t(spark, sf_dir, "embeddings")
    out = pca_project(emb, PCA_MODEL_REF)
    return out.select(
        "vec_id",
        *[
            F.round(F.element_at(F.col("pca"), i + 1) + 1e-8, 4).alias(f"pc{i + 1}")
            for i in range(4)
        ],
    )


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic of order value, 1995 cohort vs
    1996+ cohort (quality.checks.ks_two_sample) — the binning-free
    shape-drift test beside psi_drift's decile PSI. The ECDF running
    sum is a distributed prefix sum (range partitions + per-partition
    window + driver exclusive-scan of one subtotal row per partition),
    never a single-task global window; the DuckDB twin is the plain
    SUM() OVER (ORDER BY v) formulation."""
    from facolos_data_pipelines_spark.quality.checks import ks_two_sample

    orders = _t(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderdate") < "1996-01-01")
    curr = orders.filter(F.col("o_orderdate") >= "1996-01-01")
    return ks_two_sample(base, curr, "o_totalprice")


def q_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-category chi-squared drift terms of order priority, 1995
    cohort vs 1996+ cohort (quality.checks.chi2_categorical): expected
    = current total allocated by base proportions (epsilon-floored),
    term = (obs - exp)^2 / exp — the categorical complement to the
    numeric PSI/KS monitors."""
    from facolos_data_pipelines_spark.quality.checks import chi2_categorical

    orders = _t(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderdate") < "1996-01-01")
    curr = orders.filter(F.col("o_orderdate") >= "1996-01-01")
    return chi2_categorical(base, curr, "o_orderpriority")


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 for the query {spark, merge, window}
    (operators.text.bm25_topk): normalized_words tokenization (the
    tfidf_top_terms contract), Lucene-default k1=1.2 / b=0.75,
    explode filtered to the query's terms before the tf shuffle, df
    and (N, avgdl) as broadcast rows, TakeOrderedAndProject top-k."""
    from facolos_data_pipelines_spark.operators.text import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, ["spark", "merge", "window"], k=10)


def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+vector retrieval fused by reciprocal-rank fusion
    (similarity.rrf_fuse, k_rrf=60): BM25 top-20 for {spark, merge,
    window} plus exact-cosine top-20 against QUERY_VEC over the
    aligned embeddings table (vec_id == doc_id in the testdata),
    fused to the final top-10. Both candidate lists rank on their
    ROUNDED scores (bm25 6dp, cosine 4dp) with id tie-break, so rank
    positions — and therefore the fused scores — are engine-exact.
    Fusion itself touches <= 40 rows; the corpus-scale work stays in
    the two retrieval operators with their own certified plans."""
    from facolos_data_pipelines_spark.operators.similarity import (
        cosine_to_query,
        rrf_fuse,
    )
    from facolos_data_pipelines_spark.operators.text import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = bm25_topk(docs, ["spark", "merge", "window"], k=20)
    vec = (
        emb.select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                cosine_to_query(F.col("embedding"), QUERY_VEC) + 1e-8, 4
            ).alias("cosine"),
        )
        .filter(F.col("cosine").isNotNull())
        .orderBy(F.col("cosine").desc(), F.col("doc_id").asc())
        .limit(20)
    )
    return rrf_fuse([(lex, "bm25"), (vec, "cosine")], id_col="doc_id", topk=10)


def q_contamination_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded contamination (text.contamination_fraction): fraction of
    each training doc's distinct 3-grams found in the held-out
    benchmark slice (doc_id % 50 == 0, the decontaminate split) —
    numerator and denominator from ONE exploded corpus pass against
    the broadcast benchmark gram set."""
    from facolos_data_pipelines_spark.operators.text import contamination_fraction

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    return contamination_fraction(train, bench, n=3)


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-distance z-scores over the embeddings table
    (similarity.embedding_outliers): one pass of dim parallel means ->
    literal centroid -> codegen distance fold -> 1-row z-scale
    broadcast. The outlier flag compares the ROUNDED z so the boolean
    is engine-reproducible; the DuckDB twin recomputes the same two
    aggregate hops with the same rounding."""
    from facolos_data_pipelines_spark.operators.similarity import (
        embedding_outliers,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_outliers(emb)


def q_gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(user, event_type) daily value series densified to each
    key's full day span with forward fill
    (operators.timeseries.gap_fill) — the regular-grid prerequisite
    for any rolling feature. ~60% of the spine days are holes in the
    testdata, so the fill path is genuinely exercised. n_rows=0 marks
    filled rows; the DuckDB twin is generate_series +
    last_value IGNORE NULLS."""
    from facolos_data_pipelines_spark.operators.timeseries import gap_fill

    events = _t(spark, sf_dir, "events")
    out = gap_fill(
        events,
        ["user_id", "event_type"],
        "ts",
        ["value"],
        freq="day",
        agg="sum",
        fill="ffill",
    )
    return out.select(
        "user_id",
        "event_type",
        F.col("bucket").cast("date").alias("day"),
        "n_rows",
        F.round(F.col("value") + 1e-8, 4).alias("value"),
    )


def q_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day trailing avg/sum per (user, event_type) over the
    ZERO-FILLED daily spine (timeseries.gap_fill -> rolling_features)
    — the composition gap_fill exists for: on the contiguous spine a
    7-ROW trailing frame IS 7 calendar days. One shuffle for the
    series, one key-partitioned sort for all frames. The DuckDB twin
    nests the same spine and uses a named WINDOW with ROWS BETWEEN 6
    PRECEDING."""
    from facolos_data_pipelines_spark.operators.timeseries import (
        gap_fill,
        rolling_features,
    )

    events = _t(spark, sf_dir, "events")
    series = gap_fill(
        events, ["user_id", "event_type"], "ts", ["value"], fill="zero"
    )
    out = rolling_features(
        series,
        ["user_id", "event_type"],
        "bucket",
        "value",
        windows=[7],
        stats=("avg", "sum"),
    )
    return out.select(
        "user_id",
        "event_type",
        F.col("bucket").cast("date").alias("day"),
        "n_rows",
        F.round(F.col("value_avg_7") + 1e-8, 4).alias("avg_7d"),
        F.round(F.col("value_sum_7") + 1e-8, 4).alias("sum_7d"),
    )


def q_winsorize_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized line-item price (operators.features.winsorize):
    exact [1%, 99%] percentile cut points (the DuckDB quantile_cont
    definition) reduced in one aggregate row, then a broadcast
    least/greatest projection — clipping never shuffles. The at-scale
    swap is exact=False (t-digest approx_percentile), documented on
    the operator."""
    from facolos_data_pipelines_spark.operators.features import winsorize

    li = _t(spark, sf_dir, "lineitem")
    out = winsorize(li, ["l_extendedprice"], lower=0.01, upper=0.99)
    return out.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice_w") + 1e-8, 4).alias("price_w"),
    )


def q_freq_encode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency + smoothed-target encoding table for order priority
    with o_totalprice as the target (operators.features.
    frequency_encode): one grouped aggregate + a 1-row global
    broadcast; target_enc is the m-estimate shrink toward the global
    mean (smoothing=10)."""
    from facolos_data_pipelines_spark.operators.features import (
        frequency_encode,
    )

    orders = _t(spark, sf_dir, "orders")
    return frequency_encode(
        orders, "o_orderpriority", target_col="o_totalprice", smoothing=10.0
    )


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-entropy quality signal
    (operators.text.char_entropy) — one shuffle-free mapInPandas pass,
    numpy bincount per doc. The DuckDB twin rebuilds the histogram as a
    list_distinct/list_filter pipeline; per-doc summation-order float
    noise is absorbed by the shared round-4 convention."""
    from facolos_data_pipelines_spark.operators.text import char_entropy

    docs = _t(spark, sf_dir, "documents")
    return char_entropy(docs)


def q_compression_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression-ratio quality signal
    (operators.text.compression_ratio): one Arrow pass, C-speed
    deflate per doc, no shuffle. The compressed BYTE length is a
    zlib-build artifact, not a cross-engine contract, so — following
    the `approx_distinct` bounded-oracle convention — the engine-
    specific values are projected to their mathematical envelope,
    which IS certifiable: n_bytes (exact UTF-8 byte count, DuckDB
    octet_length), positivity, zlib's worst-case deflate bound
    (wrapper 6 B + 5 B per 64 KiB stored block), and
    natural-language text > 200 bytes must actually shrink. The
    booleans reference n_compressed, so Catalyst cannot prune the
    deflate pass out of the timed plan; the entropy twin carries the
    value-level oracle for this quality dimension."""
    from facolos_data_pipelines_spark.operators.text import compression_ratio

    docs = _t(spark, sf_dir, "documents")
    out = compression_ratio(docs)
    return out.select(
        "doc_id",
        "n_bytes",
        (F.col("n_compressed") > 0).alias("positive"),
        (
            F.col("n_compressed")
            <= F.col("n_bytes") + 11 + 5 * F.floor(F.col("n_bytes") / 65535)
        ).alias("within_deflate_bound"),
        F.when(F.col("n_bytes") > 200, F.col("n_compressed") < F.col("n_bytes"))
        .otherwise(F.lit(True))
        .alias("shrinks_long_doc"),
    )


def q_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script composition per document
    (operators.text.script_profile): zero-shuffle regexp_count pass
    over classes Java regex and RE2 count identically
    (\\p{IsLatin} == \\p{Latin} etc.), explicit whitespace class so
    the denominators agree; dominant-script CASE and mixed-mass flag
    are exact integer-ratio comparisons in both engines."""
    from facolos_data_pipelines_spark.operators.text import script_profile

    docs = _t(spark, sf_dir, "documents")
    return script_profile(docs)


def q_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size HISTOGRAM over the certified
    embedding-LSH pair set: single-link components, then how many
    clusters exist at each size — the report that says whether a
    corpus's duplication is long-tail (mostly pairs, safe to dedup
    blindly) or dominated by mega-clusters (boilerplate — inspect
    before deleting). Components include only docs that paired, so
    every cluster has size >= 2; the id-only aggregate costs two tiny
    shuffles after the pair search."""
    from facolos_data_pipelines_spark.operators.dedup import (
        connected_components,
        embedding_near_dup_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings")
    # pinned to the oracle's 6-plane family (see q_dup_components)
    pairs = embedding_near_dup_pairs(
        emb, threshold=0.4, num_planes=6, num_bands=4, dim=64
    )
    comps = connected_components(pairs.select("id_a", "id_b"))
    sizes = comps.groupBy("component").agg(F.count("*").alias("sz"))
    return (
        sizes.groupBy(F.col("sz").cast("long").alias("cluster_size"))
        .agg(F.count("*").cast("long").alias("n_clusters"))
        .orderBy("cluster_size")
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup cluster-then-dedup (Abbas et al. 2023): nearest-centroid
    assignment partitions the corpus, cosine pairs are searched within
    clusters only, and the higher id of each pair >= 0.3 drops. Fixed
    centroids (the 8 lowest vec_ids) make the whole plan — assignment
    argmin, per-cluster pair search, loser anti-join — deterministic
    and DuckDB-checkable; production uses ivf_train's codebook (see
    operators.dedup.semantic_dedup)."""
    from facolos_data_pipelines_spark.operators.dedup import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cluster_id"), F.col("embedding").alias("centroid")
    )
    return semantic_dedup(emb, cents, threshold=0.3).select("vec_id", "label")


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication report (Lee et al. 2022): maximal
    word-position spans covered by 5-grams shared across >= 2 docs —
    gaps-and-islands over the positioned shingle explode; two bounded
    shuffles, no self-join (see operators.dedup.duplicate_gram_spans)."""
    from facolos_data_pipelines_spark.operators.dedup import duplicate_gram_spans

    docs = _t(spark, sf_dir, "documents")
    out = duplicate_gram_spans(docs, n=5)
    return out.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        "n_dup_grams",
    )


def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination: the benchmark's distinct
    2-grams compress to a 2^20-bit bitmap tested with codegen bit
    probes in the corpus scan; the surviving sliver is exact-confirmed,
    so the result is IDENTICAL to the exact operator — which is what
    the oracle asserts (see operators.text.decontaminate_bloom)."""
    from facolos_data_pipelines_spark.operators.text import decontaminate_bloom

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    return decontaminate_bloom(docs, bench, n=2)


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval leakage gate over a corpus with planted cross-split
    duplicates (every doc_id % 10 == 0 doc re-enters under id+1000000):
    held-out docs whose normalized-content md5 also appears in the
    train split, with the smallest colliding train id as witness (see
    operators.sampling.split_leakage_check)."""
    from facolos_data_pipelines_spark.operators.sampling import split_leakage_check

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    base = docs.unionByName(copies)
    return split_leakage_check(base, portable_hash=True)


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure predicate-pushdown aggregate — date range,
    discount band, quantity cap, all reaching the parquet scan
    (PushedFilters), then one map-side-combined sum. The canonical
    'filters must reach the scan' probe."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.05)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_discount")) + 1e-6, 2
            ).alias("revenue_delta")
        )
    )


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (scalar-max subquery over a derived view): the
    supplier(s) whose Q1-1996 revenue equals the maximum. Spark plans
    the max as a 1-row broadcast joined back; revenue is rounded on
    both sides so summation-order ulp drift cannot split the tie."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) + 1e-6, 2
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("_mx"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (IN-subquery over a grouped HAVING, decorrelated
    as join): orders whose total line quantity exceeds 250, with the
    customer joined in. The big-side aggregate runs FIRST so the join
    input is already reduced to qualifying keys."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity") + 1e-9, 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return (
        orders.join(big, orders["o_orderkey"] == big["l_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice",
            "sum_qty",
        )
    )


def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (disjunction of conjunctive brand/size/quantity
    bands): the OR of three multi-column predicates evaluated after one
    part-lineitem equi-join — common attributes (quantity caps, size
    floor) are still pushdown-eligible, the disjunct residue filters
    post-join."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(5, 35)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 40)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(15, 45)
        )
    )
    return j.filter(cond).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) + 1e-6, 2
        ).alias("revenue")
    )


def q_cold_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (scalar-average subquery + NOT EXISTS):
    above-average-balance customers with no order since 1999, counted
    per market segment. The global average is a 1-row broadcast; the
    no-recent-orders test is a left-anti join against the distinct
    recent-customer keys."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.round(F.avg("c_acctbal") + 1e-9, 4).alias("_ab")
    )
    rich = cust.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("_ab")
    )
    recent = (
        orders.filter(F.col("o_orderdate") >= "1999-01-01")
        .select("o_custkey")
        .dropDuplicates()
    )
    cold = rich.join(recent, rich["c_custkey"] == recent["o_custkey"], "left_anti")
    return cold.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.round(F.sum("c_acctbal") + 1e-6, 2).alias("total_acctbal"),
    )


def q_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (bidirectional nation-pair volume): revenue
    shipped between NATION_1 and NATION_2 in either direction, by
    supplier nation, customer nation, and ship year. Both nation dims
    broadcast twice under different aliases; the disjunctive pair
    filter runs after the joins (its columns come from both sides),
    while the ship-date band pushes to the lineitem scan."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.filter(
            (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") <= "1996-12-31")
        )
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        j.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) + 1e-6, 2
            ).alias("revenue")
        )
    )


def q_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): the canonical 5-way
    part-filtered profit rollup by supplier nation and order year. The
    schema has no partsupp table, so supply cost is derived from the
    part dim (10% of retail price per unit) — the PLAN is Q9's: a
    LIKE-filtered part dim broadcast into the fact, supplier+nation
    broadcast, orders joined for the year, one grouped sum."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    sup = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity") * 0.1
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.round(F.sum(amount) + 1e-6, 2).alias("sum_profit"))
    )


def q_returned_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): revenue lost to
    returns ('R' lineitems) on Q4-1995 orders, per customer with the
    nation joined in, top 20. The order-date band prunes orders before
    the fact join; top-k compiles to TakeOrderedAndProject (per-
    partition heaps, no global sort); c_custkey tie-break keeps the
    cutoff deterministic."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders.filter(
            (F.col("o_orderdate") >= "1995-10-01") & (F.col("o_orderdate") < "1996-01-01")
        )
        .join(li.filter(F.col("l_returnflag") == "R"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) + 1e-6, 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def q_priority_shipclass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (conditional CASE tallies per category): 1996
    shipments classed by line status, counting critical-priority
    (1-URGENT / 2-HIGH) vs other orders. The schema has no l_shipmode
    column, so l_linestatus plays the category role — the plan is
    Q12's: one fact-orders join, CASE folded into two map-side sums."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(crit, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(crit, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (conditional-share scalar): percentage of
    March-1996 revenue from PROMO-type parts. Part dim broadcast, one
    CASE'd global aggregate; the share divides the two sums in a
    single reduced row (no second pass)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01")
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev)
                + 1e-9,
                4,
            ).alias("promo_pct")
        )
    )


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011;
    operators.similarity.pq_train/pq_encode/pq_topk): vectors encoded
    as 8 subspace codes against a codebook, top-10 by asymmetric
    lookup-table distance to vec 0. A FIXED codebook — the subvector
    slices of the 16 lowest vec_ids — makes encode + ADC exact
    arithmetic DuckDB can mirror; production trains per-subspace
    k-means via pq_train."""
    from facolos_data_pipelines_spark.operators.similarity import (
        pq_encode,
        pq_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cb_rows = sorted(
        emb.filter(F.col("vec_id") < 16).collect(), key=lambda r: r["vec_id"]
    )
    codebooks = [
        [[float(x) for x in r["embedding"][j * 8 : (j + 1) * 8]] for r in cb_rows]
        for j in range(8)
    ]
    query = [float(x) for x in cb_rows[0]["embedding"]]
    codes = pq_encode(emb, codebooks)
    return pq_topk(codes, codebooks, query, k=10)


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (operators.similarity.encode_ivfpq/topk_ivfpq — the
    FAISS IVFPQ architecture): coarse-assign to 4 cells, PQ-encode the
    residual, probe the 2 cells nearest vec 0 and rank by per-cell ADC
    tables. Fixed coarse centroids (vec_id < 4) and codebook
    (vec_id < 16 slices) make the whole index + probe exact arithmetic
    the DuckDB oracle certifies; production trains both codebooks."""
    from facolos_data_pipelines_spark.operators.similarity import (
        encode_ivfpq,
        topk_ivfpq,
    )

    emb = _t(spark, sf_dir, "embeddings")
    rows = sorted(
        emb.filter(F.col("vec_id") < 16).collect(), key=lambda r: r["vec_id"]
    )
    coarse = [[float(x) for x in r["embedding"]] for r in rows[:4]]
    codebooks = [
        [[float(x) for x in r["embedding"][j * 8 : (j + 1) * 8]] for r in rows]
        for j in range(8)
    ]
    query = [float(x) for x in rows[0]["embedding"]]
    index = encode_ivfpq(emb, coarse, codebooks)
    return topk_ivfpq(index, coarse, codebooks, query, k=10, n_probe=2)


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index-quality gate (similarity.ann_recall_at_k): recall@10
    of the certified IVF-PQ probe (2 of 4 cells, residual ADC) against
    the exact squared-L2 top-10 for the same query vector. The number
    a pipeline checks before trusting the approximate path — and the
    DuckDB twin recomputes BOTH lists and the same recall row.

    The measured recall here is LOW by design and that is the point:
    the oracle-fixed codebook is untrained (vec_id slices, not
    k-means) and the synthetic embeddings are isotropic — near-uniform
    pairwise distances, the worst case for a 4-cell quantizer. A gate
    that reports 0.1 on a bad index/corpus pairing is doing its job;
    production indexes train via pq_train/ivf_train and re-gate."""
    from facolos_data_pipelines_spark.operators.similarity import (
        ann_recall_at_k,
        encode_ivfpq,
        lit_double_array,
        topk_ivfpq,
    )

    emb = _t(spark, sf_dir, "embeddings")
    rows = sorted(
        emb.filter(F.col("vec_id") < 16).collect(), key=lambda r: r["vec_id"]
    )
    coarse = [[float(x) for x in r["embedding"]] for r in rows[:4]]
    codebooks = [
        [[float(x) for x in r["embedding"][j * 8 : (j + 1) * 8]] for r in rows]
        for j in range(8)
    ]
    query = [float(x) for x in rows[0]["embedding"]]
    index = encode_ivfpq(emb, coarse, codebooks)
    approx = topk_ivfpq(index, coarse, codebooks, query, k=10, n_probe=2)
    qarr = lit_double_array(query)
    dist = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            qarr,
            lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    exact = (
        emb.select("vec_id", dist.alias("_d"))
        .orderBy(F.col("_d").asc(), F.col("vec_id").asc())
        .limit(10)
    )
    return ann_recall_at_k(approx, exact)


def q_ann_recall_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRAINED-index counterpart of `ann_recall`: prove the
    IVF-PQ path is USEFUL (recall@10 >= 0.8), not merely certified at
    the low recall the untrained/isotropic worst case reports.

    Clusterable data is derived deterministically from the embeddings
    table — a mixture of 8 well-separated blobs: vector = 10·e_c +
    0.5·embedding where c = vec_id % 8 picks the one-hot-ish center
    (10.0 at dims where d % 8 == c) and the isotropic synthetic
    embedding supplies the within-cluster noise. The coarse quantizer
    trains via similarity.ivf_train (k=8) and the subspace codebooks
    via pq_train on THAT data, so the index actually fits the corpus
    distribution; the query probes 2 of 8 cells, ADC-retrieves 4x k
    candidates, and exact-reranks them (the IVFADC-with-refinement
    pipeline shape — `rerank_with`), which must recover >= 8 of the
    exact top-10 for a query drawn from one blob.

    Bounded oracle (the approx_distinct pattern): the measured recall
    depends on trained floats no other engine reproduces, so the
    Spark row is (n_exact, recall >= 0.8) and the oracle row is the
    static (10, TRUE) — the value hash matches iff the trained index
    clears the gate."""
    from facolos_data_pipelines_spark.operators.similarity import (
        ann_recall_at_k,
        encode_ivfpq,
        ivf_train,
        lit_double_array,
        pq_train,
        topk_ivfpq,
    )

    emb = _t(spark, sf_dir, "embeddings")
    clustered = _clustered_embeddings(emb)
    coarse = ivf_train(clustered, k=8)
    # PQ coarseness vs rerank width, measured at sf0.1: 32 subspaces x
    # 5 iters with rerank_factor=4 scores recall 1.0 in ~9s; halving
    # the codebooks (16 x 3 iters) and WIDENING the exact rerank to
    # 20x k keeps recall at 1.0 in ~6s — the rerank is a broadcast
    # semi-join over a constant 200 candidates at any corpus size, so
    # trading trainer cost for rerank width is scale-free.
    codebooks = pq_train(
        clustered, num_subspaces=16, k=16, sample_fraction=1.0, iterations=3
    )
    query = [
        float(x)
        for x in clustered.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    index = encode_ivfpq(clustered, coarse, codebooks)
    approx = topk_ivfpq(
        index,
        coarse,
        codebooks,
        query,
        k=10,
        n_probe=2,
        rerank_with=clustered,
        rerank_factor=20,
    )
    qarr = lit_double_array(query)
    dist = F.aggregate(
        F.zip_with(
            F.col("embedding"), qarr, lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    exact = (
        clustered.select("vec_id", dist.alias("_d"))
        .orderBy(F.col("_d").asc(), F.col("vec_id").asc())
        .limit(10)
    )
    rec = ann_recall_at_k(approx, exact)
    return rec.select(
        "n_exact", (F.col("recall") >= F.lit(0.8)).alias("meets_gate")
    )


def q_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 hard-rule cleanup (operators.text.c4_clean) over a multi-line
    corpus synthesized deterministically from documents (the flat
    synthetic docs carry no newlines, so ' table ' becomes a sentence
    boundary via plain replace — portable to any engine): line-level
    terminal-punct / min-words / code-tell deletions, doc-level
    min-lines gate, text rebuilt from survivors."""
    from facolos_data_pipelines_spark.operators.text import c4_clean

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text", F.replace(F.col("text"), F.lit(" table "), F.lit(".\ntable "))
    )
    return c4_clean(docs, min_words_per_line=3, min_lines=2).select(
        "doc_id", "text", "n_lines_orig", "n_lines_kept"
    )


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of order value, 1995 cohort vs 1996+
    cohort (quality.checks.population_stability_index): base-decile
    binning, epsilon-floored per-bin (p_curr - p_base) * ln ratio. The
    shape-drift monitor snapshot_drift's mean/null flags can't see."""
    from facolos_data_pipelines_spark.quality.checks import (
        population_stability_index,
    )

    orders = _t(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderdate") < "1996-01-01")
    curr = orders.filter(F.col("o_orderdate") >= "1996-01-01")
    return population_stability_index(base, curr, "o_totalprice", num_bins=10)


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled corpus mixing at tau=0.5
    (operators.sampling.temperature_mix): target weights derived
    in-plan as count^tau, tail sources boosted, rows kept by the
    portable md5 fraction — the multilingual sampling recipe."""
    from facolos_data_pipelines_spark.operators.sampling import temperature_mix

    docs = _t(spark, sf_dir, "documents")
    return temperature_mix(docs, "lang", temperature=0.5).select(
        "doc_id", "lang"
    )


def _temperature_mix_oracle_sql() -> str:
    """temperature_mix twin: pow-derived weights, binding scale T,
    8-decimal keep fractions, md5 32-bit fraction digit idiom."""
    value = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {d + 1}, 1)) - 1) * {16 ** (7 - d)}"
        for d in range(8)
    )
    return rf"""
            WITH c AS (
                SELECT lang, CAST(COUNT(*) AS DOUBLE) AS cnt,
                       pow(CAST(COUNT(*) AS DOUBLE), 0.5) AS pw
                FROM documents WHERE lang IS NOT NULL GROUP BY 1
            ), z AS (SELECT SUM(pw) AS zt FROM c),
            w AS (SELECT lang, cnt, pw / (SELECT zt FROM z) AS wgt FROM c),
            t AS (SELECT MIN(cnt / wgt) AS tv FROM w),
            thr AS (
                SELECT lang,
                       ROUND(LEAST(1.0, (SELECT tv FROM t) * wgt / cnt)
                             + 1e-12, 8) AS keep
                FROM w
            ), h8 AS (
                SELECT doc_id, d.lang,
                       md5('tmix:' || CAST(doc_id AS VARCHAR)) AS h
                FROM documents d
            )
            SELECT doc_id, h8.lang
            FROM h8 JOIN thr ON h8.lang = thr.lang
            WHERE ({value}) / 4294967296.0 < keep
        """


def q_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (nested semi-join chain + correlated threshold):
    suppliers who over-shipped some 'red' part — per (part, supplier)
    shipped quantity exceeding 3x that part's per-supplier average. The
    plan is Q20's: a LIKE-filtered part dim broadcast into the fact,
    a grouped aggregate re-aggregated for the correlated per-part
    threshold, and the surviving supplier keys semi-joined back into
    the supplier dim (no partsupp table in this schema; shipped
    quantity plays availqty's role). Averages are rounded on both
    sides so summation-order ulp drift cannot flip the comparison."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    part_f = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    shipped = (
        li.join(F.broadcast(part_f), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.round(F.sum("l_quantity") + 1e-9, 2).alias("qty"))
    )
    per_part = shipped.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.round(F.avg("qty") + 1e-9, 4).alias("avg_qty")
    )
    excess = (
        shipped.join(per_part, F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("qty") > 3.0 * F.col("avg_qty"))
        .select("l_suppkey")
        .dropDuplicates()
    )
    return (
        sup.join(excess, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


def q_frequent_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters via Misra-Gries candidates + exact
    verify (operators.skew.frequent_items): every word holding >= 0.5%
    of the corpus's word mass, with exact counts. Only per-partition
    sketch survivors ever shuffle — the full-vocabulary groupBy twin
    is what the oracle runs, and the outputs must be EQUAL (the
    candidate pass is a guaranteed superset, the verify pass is
    exact)."""
    from facolos_data_pipelines_spark.operators.dedup import normalized_words
    from facolos_data_pipelines_spark.operators.skew import frequent_items

    docs = _t(spark, sf_dir, "documents")
    words = docs.select(F.explode(normalized_words("text")).alias("word"))
    return frequent_items(words, "word", min_share=0.005)


def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum schedule (operators.sampling.curriculum_order):
    8 exact-quantile difficulty tiers on document length, md5-fraction
    order inside each tier — deterministic easy-to-hard replay with no
    global sort (1-row boundary broadcast + narrow comparisons)."""
    from facolos_data_pipelines_spark.operators.sampling import curriculum_order

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", F.length("text").cast("double").alias("score")
    )
    out = curriculum_order(scored, "score", "doc_id", num_buckets=8)
    return out.select("doc_id", "bucket", "order_key")


def _curriculum_oracle_sql() -> str:
    """curriculum_order twin: quantile_cont boundaries (interpolation
    parity proven by column_profile), strict > binning, md5 32-bit
    fraction rebuilt digit-by-digit (same idiom as _split_oracle_sql)."""
    value = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {d + 1}, 1)) - 1) * {16 ** (7 - d)}"
        for d in range(8)
    )
    qs = ", ".join(str(i / 8) for i in range(1, 8))
    return rf"""
            WITH s AS (
                SELECT doc_id, CAST(length(text) AS DOUBLE) AS score
                FROM documents
            ), b AS (
                SELECT quantile_cont(score, [{qs}]) AS bs FROM s
            ), h8 AS (
                SELECT doc_id,
                       md5('curriculum:' || CAST(doc_id AS VARCHAR)) AS h
                FROM s
            )
            SELECT s.doc_id,
                   CAST(len(list_filter(b.bs, x -> s.score > x)) AS INT)
                       AS bucket,
                   ROUND(({value}) / 4294967296.0 + 1e-12, 8) AS order_key
            FROM s, b
            JOIN h8 ON s.doc_id = h8.doc_id
        """


def q_strip_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-substring REMOVAL (Lee et al. 2022's actual action):
    delete all but the min-id document's occurrence of every cross-doc
    5-word run and rebuild the normalized text, keeping the rest of
    each document intact (see operators.dedup.strip_duplicate_spans)."""
    from facolos_data_pipelines_spark.operators.dedup import strip_duplicate_spans

    docs = _t(spark, sf_dir, "documents")
    return strip_duplicate_spans(docs, n=5)


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-priority near-dedup survivors
    (dedup.keep_best_per_cluster): exact 3-gram Jaccard pairs ->
    single-link components -> keep the LONGEST member of each cluster
    (n_chars desc, id tie-break) instead of the min id — the
    FineWeb-style keep policy where dedup upgrades the corpus. The
    DuckDB twin recomputes the same pair set, closes it with a
    recursive CTE, and applies the same window."""
    from facolos_data_pipelines_spark.operators.dedup import (
        connected_components,
        keep_best_per_cluster,
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.8)
    comps = connected_components(pairs.select("id_a", "id_b"))
    out = keep_best_per_cluster(docs, comps, score_col="n_chars")
    return out.select("doc_id", F.col("n_chars").cast("long").alias("n_chars"))


def q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absolute token-budget mixture cut
    (sampling.token_budget_sample): four sources cut to exact token
    budgets (600/800/400/1000), the rest dropped — md5-fraction deal
    order, per-source running token sum, keep until the budget is
    crossed. The proportion twins (mix_corpus, temperature_mix) pick
    ROW shares; this enforces the token recipe."""
    from facolos_data_pipelines_spark.operators.sampling import token_budget_sample

    docs = _t(spark, sf_dir, "documents")
    out = token_budget_sample(
        docs, {"src1": 600, "src3": 800, "src5": 400, "src7": 1000}
    )
    return out.select("doc_id", "source", "n_tokens")


def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination
    (similarity.semantic_decontaminate): treat the 20 lowest vec_ids
    as the held-out benchmark, drop every remaining vector with
    cosine >= 0.3 to any of them — the paraphrase-robust twin of the
    n-gram decontaminate/decontaminate_bloom pair. Exact path: the
    test set broadcasts, one codegen cross-score pass, anti-join."""
    from facolos_data_pipelines_spark.operators.similarity import (
        semantic_decontaminate,
    )

    emb = _t(spark, sf_dir, "embeddings")
    test = emb.filter(F.col("vec_id") < 20)
    train = emb.filter(F.col("vec_id") >= 20)
    out = semantic_decontaminate(train, test, threshold=0.3)
    return out.select(F.col("vec_id").cast("long").alias("vec_id"))


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (correlated scalar-MIN subquery + region-
    restricted supplier chain): for every STANDARD part in a size band,
    the cheapest EUROPE supplier by average unit price. The schema has
    no partsupp, so the (part, supplier) average lineitem unit price
    plays ps_supplycost's role. Spark replaces the correlated MIN with
    ONE window pass over the aggregated cost table (row_number over
    (unit_cost, s_suppkey) — the suppkey tie-break makes the winner
    deterministic so cross-engine ulp drift cannot flip it); the DuckDB
    oracle keeps Q2's literal correlated-subquery text. Supplier,
    nation, and region dims all broadcast; the only shuffle is the
    (part, supplier) aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & F.col("p_size").between(10, 20)
    )
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    sup = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", F.col("n_name").alias("nation"))
    )
    cost = (
        li.join(F.broadcast(part.select("p_partkey", "p_brand")),
                F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("p_partkey", "p_brand", "s_suppkey", "s_name", "s_acctbal", "nation")
        .agg(
            F.round(
                F.avg(F.col("l_extendedprice") / F.col("l_quantity")) + 1e-9, 4
            ).alias("unit_cost")
        )
    )
    w = Window.partitionBy("p_partkey").orderBy("unit_cost", "s_suppkey")
    return (
        cost.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "p_partkey", "p_brand", "s_suppkey", "s_name", "s_acctbal",
            "nation", "unit_cost",
        )
        .orderBy(F.col("s_acctbal").desc(), "p_partkey")
        .limit(100)
    )


def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (grouped aggregate HAVING > global-scalar
    threshold): per-part revenue from NATION_3 suppliers that exceeds
    0.1% of that whole market. The global total is a 1-row broadcast
    cross-joined into the grouped aggregate — the classic
    scalar-subquery-in-HAVING plan with no second scan of the fact
    (both aggregates reuse one shuffled intermediate)."""
    li = _t(spark, sf_dir, "lineitem")
    sup = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") == 3)
        .select("s_suppkey")
    )
    per_part = (
        li.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) + 1e-6, 2
            ).alias("part_value")
        )
    )
    total = per_part.agg(F.round(F.sum("part_value") + 1e-6, 2).alias("_tv"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > 0.001 * F.col("_tv"))
        .select("l_partkey", "part_value")
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


def q_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (NOT-IN anti-join + grouped COUNT DISTINCT):
    how many distinct suppliers ship each (brand, type, size) combo,
    excluding one brand, the PROMO type, and any supplier in arrears
    (negative balance — the complaints list's role). The NOT IN
    compiles to a broadcast left-anti join on the tiny excluded-key
    set; COUNT DISTINCT expands to the standard two-phase distinct
    aggregate on the one fact shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    excluded = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("_x_suppkey"))
    )
    return (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand", "p_type", "p_size")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            F.broadcast(excluded),
            F.col("l_suppkey") == F.col("_x_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (sampling.dsir_logratio_weights, Xie et
    al. 2023): hashed word-bigram bag-of-ngrams models fit on the
    target domain (English documents) vs the raw corpus; per-doc
    log-likelihood ratio under the md5 bucket contract. DuckDB rebuilds
    the 32-bit md5 bucket digit-by-digit and reproduces the smoothed
    log-ratio arithmetic exactly (4dp round for summation order). The
    target is a SLICE of the raw corpus, so it rides the tagged-
    histogram path (one gram pass fits both models — r12 optimization,
    counts pytest-pinned identical to the two-frame form)."""
    from facolos_data_pipelines_spark.operators.sampling import dsir_logratio_weights

    docs = _t(spark, sf_dir, "documents")
    return dsir_logratio_weights(docs, target_filter=F.col("lang") == "en")


def q_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel top-k importance resampling (sampling.dsir_resample) over
    the dsir_weights scores: deterministic md5-fraction Gumbel noise,
    top-50 by perturbed key — sampling w/o replacement proportional to
    exp(logratio). The rounded perturbed key + id tie-break make the
    frontier engine-exact."""
    from facolos_data_pipelines_spark.operators.sampling import (
        dsir_logratio_weights,
        dsir_resample,
    )

    docs = _t(spark, sf_dir, "documents")
    w = dsir_logratio_weights(docs, target_filter=F.col("lang") == "en")
    return dsir_resample(w, 50)


def q_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram conditional-LM fluency scores (text.bigram_logprob_scores)
    over documents: additive-smoothed ln p(w2|w1) under the corpus's
    own bigram model, narrow zip_with pair construction. Same rounding
    contract as the unigram twin (4dp + 1e-9 nudge)."""
    from facolos_data_pipelines_spark.operators.text import bigram_logprob_scores

    return bigram_logprob_scores(_t(spark, sf_dir, "documents"))


def q_corpus_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level 3-gram overlap (text.corpus_overlap) between the
    even-id and odd-id halves of documents: distinct-gram counts,
    intersection, Jaccard, both containments — the dataset-mixing
    dashboard row, one gram-keyed join over two distinct sets."""
    from facolos_data_pipelines_spark.operators.text import corpus_overlap

    docs = _t(spark, sf_dir, "documents")
    return corpus_overlap(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        n=3,
    )


def q_corpus_overlap_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus-overlap monitoring (text.corpus_overlap_delta,
    round 8): docs with id%3==1 arrive as the NEW batch, the id%3==0
    docs' distinct grams are the persisted state, the id%3==2 docs'
    grams are the reference corpus — one row with the batch's distinct
    grams, the genuinely-new subset, and the new-material contamination
    against the reference. Each monitoring cycle costs O(batch) + two
    gram-keyed joins against PERSISTED tables; no old document is ever
    rescanned (the scale path corpus_overlap's docstring sketches)."""
    from facolos_data_pipelines_spark.operators.text import (
        corpus_gram_state,
        corpus_overlap_delta,
    )

    docs = _t(spark, sf_dir, "documents")
    seen = corpus_gram_state(docs.filter(F.col("doc_id") % 3 == 0), n=3)
    ref = corpus_gram_state(docs.filter(F.col("doc_id") % 3 == 2), n=3)
    return corpus_overlap_delta(
        docs.filter(F.col("doc_id") % 3 == 1), seen, ref, n=3
    )


def q_gram_state_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The write-back half of the monitoring loop
    (text.corpus_state_append, round 9): the rows a delta cycle appends
    to the persisted gram-state table — the id%3==1 batch's distinct
    3-shingles absent from the id%3==0 state. Count equals
    corpus_overlap_delta's n_new_grams by construction (same anti
    predicate), which is what keeps the appended state and the running
    counters consistent across cycles (multi-cycle loop proven in
    tests/test_text_round7.py and measured in SCALE.md §6e). One
    O(batch) shingle pass + one gram-keyed anti-join."""
    from facolos_data_pipelines_spark.operators.text import (
        corpus_gram_state,
        corpus_state_append,
    )

    docs = _t(spark, sf_dir, "documents")
    seen = corpus_gram_state(docs.filter(F.col("doc_id") % 3 == 0), n=3)
    return corpus_state_append(
        docs.filter(F.col("doc_id") % 3 == 1), seen, n=3
    ).orderBy("gram")


def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed whitespace-token-length histogram
    (text.token_length_histogram) over documents — the packing/bucket
    planner input. Bucket index via integer bit length (base-2 string
    conversion), so the floor can't flip on a float ulp in either
    engine."""
    from facolos_data_pipelines_spark.operators.text import token_length_histogram

    return token_length_histogram(_t(spark, sf_dir, "documents"))


def q_quantile_bin_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency binning (features.quantile_bin, 8 bins) of
    lineitem extended prices, summarized per bin (count, min/max) —
    cut points are interpolated percentiles rounded to the engine
    parity contract, so bin edges are bit-identical to DuckDB's
    quantile_cont."""
    from facolos_data_pipelines_spark.operators.features import quantile_bin

    li = _t(spark, sf_dir, "lineitem")
    # NULL prices are unbinnable and the oracle filters them up front;
    # filter here too so query and oracle agree by construction, not by
    # the accident that TPC-H prices happen to be non-null (ADVICE r7)
    li = li.filter(F.col("l_extendedprice").isNotNull())
    binned = quantile_bin(li, "l_extendedprice", n_bins=8)
    return (
        binned.groupBy(F.col("l_extendedprice_bin").alias("price_bin"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.round(F.min("l_extendedprice") + 1e-8, 2).alias("min_price"),
            F.round(F.max("l_extendedprice") + 1e-8, 2).alias("max_price"),
        )
        .orderBy("price_bin")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # The order is part of the contract: bench.py times entries in this
    # order, and callers that sample a prefix keep seeing the same names.
    return {
        "decontaminate": q_decontaminate,
        "dup_rate_by_source": q_dup_rate_by_source,
        "freq_encode_priority": q_freq_encode_priority,
        "funnel": q_funnel,
        "gap_fill_daily": q_gap_fill_daily,
        "group_percentiles": q_group_percentiles,
        "hybrid_search": q_hybrid_search,
        "incremental_daily_sales": q_incremental_daily_sales,
        "incremental_distinct": q_incremental_distinct,
        "nation_profit": q_nation_profit,
        "nation_trade": q_nation_trade,
        "pq_topk": q_pq_topk,
        "priority_shipclass": q_priority_shipclass,
        "promo_revenue": q_promo_revenue,
        "psi_drift": q_psi_drift,
        "quantile_bin_prices": q_quantile_bin_prices,
        "repetition_stats": q_repetition_stats,
        "returned_top_customers": q_returned_top_customers,
        "semantic_decontaminate": q_semantic_decontaminate,
        "split_leakage": q_split_leakage,
        "strip_dup_spans": q_strip_dup_spans,
        "supplier_variety": q_supplier_variety,
        "supplier_wait": q_supplier_wait,
        "temperature_mix": q_temperature_mix,
        "token_budget_mix": q_token_budget_mix,
        "top_supplier": q_top_supplier,
        "tumbling_window": q_tumbling_window,
        "unigram_scores": q_unigram_scores,
        "hist_rebin_stitch": q_hist_rebin_stitch,
        "hist_percentiles_daily": q_hist_percentiles_daily,
        "anti_join_new_keys": q_anti_join_new_keys,
        "bigram_lm_scores": q_bigram_lm_scores,
        "column_profile_approx": q_column_profile_approx,
        "column_profile_tdigest": q_column_profile_tdigest,
        "corpus_overlap_delta": q_corpus_overlap_delta,
        "cross_corpus_dedup": q_cross_corpus_dedup,
        "decayed_user_value": q_decayed_user_value,
        "dedup_keep_best": q_dedup_keep_best,
        "dup_cluster_sizes": q_dup_cluster_sizes,
        "dup_components": q_dup_components,
        "embedding_dedup_delta": q_embedding_dedup_delta,
        "embedding_near_dups": q_embedding_near_dups,
        "embedding_near_dups_exact": q_embedding_near_dups_exact,
        "gram_state_append": q_gram_state_append,
        "interval_join": q_interval_join,
        "json_props_stats": q_json_props_stats,
        "ks_drift": q_ks_drift,
        "leakage_safe_split": q_leakage_safe_split,
        "minhash_dedup_delta": q_minhash_dedup_delta,
        "minhash_dedup_portable": q_minhash_dedup_portable,
        "corpus_overlap": q_corpus_overlap,
        "robust_profile": q_robust_profile,
        "rolling_psi_drift": q_rolling_psi_drift,
        "hist_state_append": q_hist_state_append,
        "psi_state_series": q_psi_state_series,
        "hist_edges_drift": q_hist_edges_drift,
        "hist_percentiles": q_hist_percentiles,
        "profile_state_append": q_profile_state_append,
        "incremental_profile": q_incremental_profile,
        "robust_anomaly": q_robust_anomaly,
        "length_histogram": q_length_histogram,
        "cube_sales": q_cube_sales,
        "corpus_diversity": q_corpus_diversity,
        "doc_containment": q_doc_containment,
        "script_profile": q_script_profile,
        "contamination_score": q_contamination_score,
        "audio_signal_features": q_audio_signal_features,
        "compression_signal": q_compression_signal,
        "multimodal_features": q_multimodal_features,
        "dsir_weights": q_dsir_weights,
        "dsir_sample": q_dsir_sample,
        "daily_revenue_delta": q_daily_revenue_delta,
        "quality_model_score": q_quality_model_score,
        "quality_scores": q_quality_scores,
        "quality_quantile_filter": q_quality_quantile_filter,
        "embedding_outliers": q_embedding_outliers,
        "schedule_health": q_schedule_health,
        "table_stats": q_table_stats,
        "conditional_agg": q_conditional_agg,
        "multi_table_summary": q_multi_table_summary,
        "quality_gate": q_quality_gate,
        "flatten_invariants": q_flatten_invariants,
        "flatten_explode": q_flatten_explode,
        "derived_columns": q_derived_columns,
        "safe_cast": q_safe_cast,
        "string_funcs": q_string_funcs,
        "lookback_filter": q_lookback_filter,
        "time_range_filter": q_time_range_filter,
        "status_filter": q_status_filter,
        "retention_filter": q_retention_filter,
        "negative_count": q_negative_count,
        "latest_by_key": q_latest_by_key,
        "merge_stats": q_merge_stats,
        "dim_enrichment_join": q_dim_enrichment_join,
        "topk_orders": q_topk_orders,
        "window_rank": q_window_rank,
        "union_sources": q_union_sources,
        "pricing_summary": q_pricing_summary,
        "shipping_priority": q_shipping_priority,
        "region_volume": q_region_volume,
        "rollup_sales": q_rollup_sales,
        "date_parts": q_date_parts,
        "value_buckets": q_value_buckets,
        "json_construct": q_json_construct,
        "exact_dedup": q_exact_dedup,
        "token_counts": q_token_counts,
        "doc_length_stats": q_doc_length_stats,
        "similarity_topk": q_similarity_topk,
        "similarity_threshold": q_similarity_threshold,
        "doc_fingerprint": q_doc_fingerprint,
        "sessionization": q_sessionization,
        "asof_join_events": q_asof_join_events,
        "asof_join_forward": q_asof_join_forward,
        "top_ngrams": q_top_ngrams,
        "cluster_assign": q_cluster_assign,
        "sliding_window": q_sliding_window,
        "cohort_retention": q_cohort_retention,
        "snapshot_drift": q_snapshot_drift,
        "scd2_history": q_scd2_history,
        "pivot_status": q_pivot_status,
        "tfidf_top_terms": q_tfidf_top_terms,
        "pack_documents": q_pack_documents,
        "order_priority_check": q_order_priority_check,
        "snapshot_diff_cdc": q_snapshot_diff_cdc,
        "mix_corpus": q_mix_corpus,
        "zorder_key": q_zorder_key,
        "rolling_user_value": q_rolling_user_value,
        "referential_orphans": q_referential_orphans,
        "revenue_share": q_revenue_share,
        "window_percentiles": q_window_percentiles,
        "session_window_agg": q_session_window_agg,
        "customer_order_distribution": q_customer_order_distribution,
        "weighted_sample": q_weighted_sample,
        "repeat_buyers": q_repeat_buyers,
        "small_quantity_revenue": q_small_quantity_revenue,
        "scd2_asof_lookup": q_scd2_asof_lookup,
        "ann_recall_trained": q_ann_recall_trained,
        "pca_project": q_pca_project,
        "chi2_drift": q_chi2_drift,
        "bm25_search": q_bm25_search,
        "rolling_features": q_rolling_features,
        "winsorize_prices": q_winsorize_prices,
        "char_entropy": q_char_entropy,
        "semantic_dedup": q_semantic_dedup,
        "duplicate_spans": q_duplicate_spans,
        "decontaminate_bloom": q_decontaminate_bloom,
        "forecast_revenue": q_forecast_revenue,
        "large_orders": q_large_orders,
        "disjunctive_revenue": q_disjunctive_revenue,
        "cold_customers": q_cold_customers,
        "frequent_items": q_frequent_items,
        "curriculum_order": q_curriculum_order,
        "excess_suppliers": q_excess_suppliers,
        "min_cost_supplier": q_min_cost_supplier,
        "important_parts": q_important_parts,
        "c4_clean": q_c4_clean,
        "ivfpq_topk": q_ivfpq_topk,
        "ann_recall": q_ann_recall,
        "fuzzy_match": q_fuzzy_match,
        "line_dedup": q_line_dedup,
        "market_share": q_market_share,
        "anomaly_zscore": q_anomaly_zscore,
        "expectations": q_expectations,
        "key_skew": q_key_skew,
        "approx_distinct": q_approx_distinct,
        "ngram_jaccard_dedup": q_ngram_jaccard_dedup,
        "daily_sales_summary": q_daily_sales_summary,
        "column_profile": q_column_profile,
        "knn_join": q_knn_join,
        "knn_join_lsh": q_knn_join_lsh,
        "simhash_dedup_portable": q_simhash_dedup_portable,
        "minhash_dedup": q_minhash_dedup,
        "simhash_dedup": q_simhash_dedup,
        "ivf_topk": q_ivf_topk,
        "cycle_metrics": q_cycle_metrics,
        "video_frame_sample": q_video_frame_sample,
        "corpus_clean": q_corpus_clean,
        "language_id": q_language_id,
        "chunk_documents": q_chunk_documents,
        "pii_redaction": q_pii_redaction,
        "dataset_split": q_dataset_split,
        "sample_per_group": q_sample_per_group,
    }


def q_cube_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping-sets (the full-lattice companion to rollup_sales):
    order counts + revenue over every subset of (priority, status),
    with per-column GROUPING flags so real NULL groups stay
    distinguishable from subtotal rows — Catalyst expands to one
    Expand + single aggregation, exactly GROUP BY CUBE in the oracle."""
    orders = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderpriority", "o_orderstatus").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.round((F.sum("o_totalprice")) + 1e-6, 2).alias("revenue"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
    )


def q_corpus_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus diversity (text.corpus_diversity): doc count,
    total/distinct 3-shingles and the type-token ratio — the
    cross-document sameness signal per-doc repetition stats can't see."""
    from facolos_data_pipelines_spark.operators.text import corpus_diversity

    return corpus_diversity(_t(spark, sf_dir, "documents"))


def q_doc_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-containment pairs (dedup.ngram_containment_pairs,
    |A∩B|/min(|A|,|B|) >= 0.6): catches short docs quoted inside long
    ones, which Jaccard-only dedup misses. Inverted-index candidates,
    exact counts, uncapped here (the oracle recomputes the identical
    pair set)."""
    from facolos_data_pipelines_spark.operators.dedup import ngram_containment_pairs

    docs = _t(spark, sf_dir, "documents")
    out = ngram_containment_pairs(docs, threshold=0.6, max_posting_size=None)
    return out.select(
        "id_a",
        "id_b",
        F.round(F.col("containment") + 1e-9, 6).alias("containment"),
        "contained_id",
    ).orderBy("id_a", "id_b")


def _vec_sql() -> str:
    return "[" + ", ".join(f"{x!r}" for x in QUERY_VEC) + "]"


def _pca_oracle_sql() -> str:
    """pca_project twin: per component list_sum(embedding[i] * c[i])
    minus the precomputed mean.component offset, literals identical to
    PCA_MODEL_REF."""
    cols = []
    for j, comp in enumerate(PCA_MODEL_REF["components"]):
        off = sum(m * c for m, c in zip(PCA_MODEL_REF["mean"], comp))
        lit = "[" + ", ".join(repr(x) for x in comp) + "]"
        cols.append(
            f"ROUND(list_sum(list_transform(range(1, 65), "
            f"i -> embedding[i]::DOUBLE * ({lit})[i])) - ({off!r}) + 1e-8, 4) "
            f"AS pc{j + 1}"
        )
    return "SELECT vec_id, " + ", ".join(cols) + " FROM embeddings"


def _quality_model_sql() -> str:
    """quality_model_score twin: every feature expression of
    quality_model._feature_exprs mirrored op-for-op, then the sigmoid
    over the frozen QUALITY_MODEL_REF literals accumulated in the SAME
    feature order the Spark scorer uses."""
    w = QUALITY_MODEL_REF["weights"]
    z = f"{QUALITY_MODEL_REF['intercept']!r}"
    order = [
        ("f_len", "least(len(words) / 100.0, 1.0)"),
        (
            "f_avg_word_len",
            "COALESCE(list_sum(list_transform(words, x -> length(x))), 0) / greatest(len(words), 1)",
        ),
        (
            # explicit whitespace class (Java \s has \x0B, RE2 \s does
            # not) — mirrors quality_model._feature_exprs / script_profile
            "f_punct_ratio",
            r"len(regexp_extract_all(text, '[^\p{L}\p{N} \t\n\v\f\r]')) / greatest(length(text), 1)",
        ),
        (
            "f_upper_ratio",
            "len(regexp_extract_all(text, '[A-Z]')) / greatest(length(text), 1)",
        ),
        (
            "f_digit_ratio",
            "len(regexp_extract_all(text, '[0-9]')) / greatest(length(text), 1)",
        ),
        (
            "f_distinct_ratio",
            "len(list_distinct(words)) / greatest(len(words), 1)",
        ),
        (
            "f_stopword_ratio",
            "len(list_filter(words, x -> list_contains([{sw}], x)))"
            " / greatest(len(words), 1)",
        ),
    ]
    for name, expr in order:
        expr = expr.replace("{sw}", _stopwords_en_sql())
        z = f"({z} + {w[name]!r} * ({expr}))"
    return rf"""
            -- frozen-literal logistic quality model: features and
            -- sigmoid mirrored op-for-op (COALESCE(list_sum, 0) covers
            -- DuckDB's NULL sum over an empty word list where Spark's
            -- aggregate() starts from 0)
            WITH w AS (
                SELECT doc_id, text,
                       list_filter(string_split_regex(lower(text), '[^\p{{L}}\p{{N}}]+'),
                                   x -> x <> '') AS words
                FROM documents
            ), s AS (
                SELECT doc_id,
                       1.0 / (1.0 + exp(-({z}))) AS raw_score
                FROM w
            )
            SELECT doc_id,
                   ROUND(raw_score + 1e-8, 4) AS model_score,
                   raw_score >= 0.5 AS keep
            FROM s
        """


def _sq(w: str) -> str:
    """SQL single-quoted string literal (apostrophes doubled)."""
    return "'" + w.replace("'", "''") + "'"


def _stopwords_en_sql() -> str:
    from facolos_data_pipelines_spark.operators.text import STOPWORDS

    return ", ".join(_sq(w) for w in STOPWORDS["en"])


def _hyperplane_values_sql(num_planes: int = 6, num_bands: int = 4, dim: int = 64) -> str:
    """VALUES rows (band, bitval, plane[]) mirroring the deterministic
    hyperplane family used by dedup.embedding_near_dup_pairs — plane
    index = band * num_planes + bit, exactly as the Spark plan builds
    them, so the DuckDB oracle computes bit-identical signatures."""
    from facolos_data_pipelines_spark.operators.similarity import _seeded_plane

    rows = []
    for band in range(num_bands):
        for bit in range(num_planes):
            plane = _seeded_plane(dim, band * num_planes + bit)
            lst = "[" + ", ".join(repr(x) for x in plane) + "]"
            rows.append(f"({band}, {1 << bit}, {lst})")
    return ",\n                ".join(rows)


def _minhash_lanes_sql(num_hashes: int = 16) -> str:
    """Per-lane MIN(md5('i:'||shingle)) select list — the md5 MinHash
    family (dedup.MINHASH_FAMILIES 'md5') verbatim in DuckDB."""
    return ",\n                   ".join(
        f"MIN(md5('{i}:' || sh)) AS h{i}" for i in range(num_hashes)
    )


def _minhash_bands_sql(num_hashes: int = 16, bands: int = 4) -> str:
    """UNION ALL of per-band (doc_id, band, key) selects; key is the
    comma-join of the band's lanes — the same equality classes as
    Spark's xxhash64-of-joined-lanes band_hash."""
    r = num_hashes // bands
    parts = []
    for b in range(bands):
        key = " || ',' || ".join(f"h{b * r + j}" for j in range(r))
        parts.append(f"SELECT doc_id, {b} AS band, {key} AS key FROM lanes")
    return "\n                UNION ALL ".join(parts)


def _simhash_digits_sql() -> str:
    """Nibble values of the first 15 md5 hex digits — the portable
    word-hash bit source of dedup.simhash_fingerprints_md5."""
    return ",\n                   ".join(
        f"strpos('0123456789abcdef', substr(hx, {d + 1}, 1)) - 1 AS d{d}"
        for d in range(15)
    )


def _simhash_votes_sql() -> str:
    """60 per-bit vote sums (bit j = bit j%4 of nibble j//4) —
    dedup.simhash_fingerprints_md5 verbatim."""
    return ",\n                   ".join(
        f"SUM(((d{j // 4} >> {j % 4}) & 1) * 2 - 1) AS v{j}" for j in range(60)
    )


def _simhash_fp_sql() -> str:
    return "\n                     + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(60)
    )


def _split_oracle_sql() -> str:
    """hash_split twin: the 32-bit md5 bucket rebuilt digit-by-digit
    (DuckDB has no hex->int conv), with the SAME cumulative-float
    boundaries the Spark expression uses (repr-exact literals)."""
    value = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {d + 1}, 1)) - 1) * {16 ** (7 - d)}"
        for d in range(8)
    )
    splits = {"train": 0.9, "val": 0.05, "test": 0.05}
    names = list(splits)
    cases = []
    cumulative = 0.0
    for name in names[:-1]:
        cumulative += splits[name]
        cases.append(f"WHEN frac < {cumulative!r} THEN '{name}'")
    case = "CASE " + " ".join(cases) + f" ELSE '{names[-1]}' END"
    return f"""
            WITH h8 AS (
                SELECT doc_id, md5('split:' || CAST(doc_id AS VARCHAR)) AS h
                FROM documents
            ), f AS (
                SELECT doc_id, ({value}) / 4294967296.0 AS frac FROM h8
            )
            SELECT doc_id, {case} AS split FROM f
        """


def _pack_oracle_sql() -> str:
    """pack_documents twin: the 32-bit md5 shard bucket rebuilt
    digit-by-digit (same idiom as _split_oracle_sql), whitespace token
    count, per-shard id-ordered running sum, floor-division pack id."""
    value = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {d + 1}, 1)) - 1) * {16 ** (7 - d)}"
        for d in range(8)
    )
    return rf"""
            WITH h8 AS (
                SELECT doc_id,
                       md5('pack:' || CAST(doc_id AS VARCHAR)) AS h,
                       CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
                                            x -> x <> '')) AS BIGINT) AS n_tokens
                FROM documents
            ), s AS (
                SELECT doc_id, CAST(({value}) % 4 AS BIGINT) AS shard, n_tokens
                FROM h8
            ), c AS (
                SELECT doc_id, shard, n_tokens,
                       COALESCE(SUM(n_tokens) OVER (
                           PARTITION BY shard ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) AS cum_before
                FROM s
            )
            SELECT doc_id, shard,
                   CAST(floor(cum_before / 512.0) AS BIGINT) AS pack_id, n_tokens
            FROM c
        """


def _token_budget_oracle_sql() -> str:
    """token_budget_sample twin: 32-bit md5 fraction (salt 'budget'),
    whitespace token count (the pack_documents contract), per-source
    (frac, id)-ordered running sum, keep while the sum BEFORE the row
    is under the budget."""
    value = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {d + 1}, 1)) - 1) * {16 ** (7 - d)}"
        for d in range(8)
    )
    budgets = {"src1": 600, "src3": 800, "src5": 400, "src7": 1000}
    vals = ", ".join(
        f"('{k}', CAST({v} AS DOUBLE))" for k, v in budgets.items()
    )
    return rf"""
            WITH b(source, budget) AS (VALUES {vals}),
            h8 AS (
                SELECT doc_id, source,
                       md5('budget:' || CAST(doc_id AS VARCHAR)) AS h,
                       CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
                                            x -> x <> '')) AS BIGINT) AS n_tokens
                FROM documents
            ), f AS (
                SELECT doc_id, source, n_tokens,
                       ({value}) / 4294967296.0 AS frac
                FROM h8
            ), c AS (
                SELECT f.doc_id, f.source, f.n_tokens, b.budget,
                       COALESCE(SUM(f.n_tokens) OVER (
                           PARTITION BY f.source ORDER BY f.frac, f.doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) AS cum_before
                FROM f JOIN b ON f.source = b.source
            )
            SELECT doc_id, source, n_tokens FROM c WHERE cum_before < budget
        """


def _weighted_sample_oracle_sql() -> str:
    """weighted_sample twin: same 32-bit md5 bucket, u = (bucket+1)/2^32,
    priority exp(ln(u)/w) — ln/div/exp are IEEE-identical doubles on
    both engines, so the top-50 selection matches exactly."""
    value = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {d + 1}, 1)) - 1) * {16 ** (7 - d)}"
        for d in range(8)
    )
    return f"""
            WITH h8 AS (
                SELECT d.*, md5('wsample:' || CAST(doc_id AS VARCHAR)) AS h
                FROM documents d
            ), s AS (
                SELECT doc_id, text, lang, source, n_chars,
                       exp(ln((({value}) + 1) / 4294967296.0)
                           / CAST(n_chars AS DOUBLE)) AS wkey
                FROM h8 WHERE n_chars > 0
            )
            SELECT doc_id, text, lang, source, n_chars
            FROM s ORDER BY wkey DESC, doc_id ASC LIMIT 50
        """


def _mix_oracle_sql() -> str:
    """mix_to_weights twin: in-SQL group counts, T = min(count/weight),
    per-group LEAST(1, T*w/c) thresholds, the shared 32-bit md5
    id-fraction (all arithmetic forced to DOUBLE — DuckDB would
    otherwise parse the weight literals as DECIMAL and round
    differently than Spark's doubles)."""
    value = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {d + 1}, 1)) - 1) * {16 ** (7 - d)}"
        for d in range(8)
    )
    weights = {"en": 0.5, "es": 0.2, "de": 0.2, "fr": 0.05, "zh": 0.05}
    vals = ", ".join(f"('{k}', CAST({v!r} AS DOUBLE))" for k, v in weights.items())
    langs = ", ".join(f"'{k}'" for k in weights)
    return f"""
            WITH w(lang, wt) AS (VALUES {vals}),
            counts AS (
                SELECT lang, COUNT(*)::DOUBLE AS c
                FROM documents WHERE lang IN ({langs}) GROUP BY lang
            ), t AS (
                SELECT MIN(c / wt) AS total FROM counts JOIN w USING (lang)
            ), thr AS (
                SELECT lang, LEAST(CAST(1.0 AS DOUBLE), total * wt / c) AS thr
                FROM counts JOIN w USING (lang) CROSS JOIN t
            ), f AS (
                SELECT d.*, ({value}) / 4294967296.0 AS frac
                FROM (SELECT *, md5('mix:' || CAST(doc_id AS VARCHAR)) AS h
                      FROM documents) d
            )
            SELECT doc_id, text, lang, source, n_chars
            FROM f JOIN thr USING (lang) WHERE frac < thr
        """


def _zorder_oracle_sql() -> str:
    """zorder_key twin: the same 8-bit two-dim Morton interleave as
    plain bitwise arithmetic (dim i contributes bit b at position
    b*ndims + i)."""
    terms = []
    for ci, c in enumerate(("x", "y")):
        for b in range(8):
            terms.append(f"((({c} >> {b}) & 1) << {b * 2 + ci})")
    expr = " | ".join(terms)
    return f"""
            WITH d AS (
                SELECT o_orderkey,
                       o_custkey % 256 AS x, o_orderkey % 256 AS y
                FROM orders
            )
            SELECT o_orderkey, CAST(({expr}) AS BIGINT) AS zkey FROM d
        """


def _pii_oracle_sql() -> str:
    """PII-redaction twin: the same RE2-compatible patterns from
    text.PII_PATTERNS, applied in the same order; counts via
    regexp_extract_all on the original (seeded) text."""
    from facolos_data_pipelines_spark.operators.text import PII_PATTERNS

    count_cols = ",\n                   ".join(
        f"CAST(len(regexp_extract_all(s, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat in PII_PATTERNS
    )
    clean = "s"
    for _name, pat in PII_PATTERNS:
        clean = f"regexp_replace({clean}, '{pat}', '[REDACTED]', 'g')"
    return f"""
            WITH seeded AS (
                SELECT doc_id,
                       text || ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com or 10.0.0.'
                            || CAST(doc_id % 256 AS VARCHAR) AS s
                FROM documents
            )
            SELECT doc_id,
                   {count_cols},
                   {clean} AS clean_text
            FROM seeded
        """


def _stopwords_values_sql() -> str:
    """VALUES rows ('lang', [stopwords...]) mirroring text.STOPWORDS."""
    from facolos_data_pipelines_spark.operators.text import STOPWORDS

    rows = []
    for lang, words in STOPWORDS.items():
        lst = ", ".join(_sq(w) for w in words)
        rows.append(f"({_sq(lang)}, [{lst}])")
    return ", ".join(rows)


def _snapshot_drift_sql() -> str:
    """quality.checks.snapshot_drift twin: per-snapshot single-pass
    profiles (counts, null counts, AVG means), joined per column; drift
    flags computed on the UNROUNDED fractions/means exactly as Spark
    does, display values epsilon-rounded."""
    cols = [("o_totalprice", True), ("o_custkey", True), ("o_orderstatus", False)]
    prof_items = ["CAST(COUNT(*) AS BIGINT) AS n_rows"]
    for i, (c, numeric) in enumerate(cols):
        prof_items.append(
            f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_{i}"
        )
        prof_items.append(
            f"AVG(CAST({c} AS DOUBLE)) AS m_{i}"
            if numeric
            else f"CAST(NULL AS DOUBLE) AS m_{i}"
        )
    prof = ",\n                       ".join(prof_items)
    branches = []
    for i, (c, _numeric) in enumerate(cols):
        branches.append(f"""
            SELECT '{c}' AS column_name,
                   pa.n_rows AS n_rows_a, pb.n_rows AS n_rows_b,
                   pa.nn_{i} AS n_null_a, pb.nn_{i} AS n_null_b,
                   ROUND(pa.nn_{i} / greatest(pa.n_rows, 1) + 1e-9, 4) AS null_frac_a,
                   ROUND(pb.nn_{i} / greatest(pb.n_rows, 1) + 1e-9, 4) AS null_frac_b,
                   ROUND(pa.m_{i} + 1e-9, 4) AS mean_a,
                   ROUND(pb.m_{i} + 1e-9, 4) AS mean_b,
                   (ABS(pb.nn_{i} / greatest(pb.n_rows, 1)
                        - pa.nn_{i} / greatest(pa.n_rows, 1)) > 0.05) AS null_drift,
                   COALESCE(CASE WHEN pa.m_{i} IS NOT NULL AND pa.m_{i} <> 0
                                 THEN ABS(pb.m_{i} - pa.m_{i}) / ABS(pa.m_{i}) > 0.10
                            END, FALSE) AS mean_drift
            FROM pa, pb""")
    return f"""
            WITH pa AS (
                SELECT {prof}
                FROM orders WHERE o_orderdate < DATE '1996-01-01'
            ), pb AS (
                SELECT {prof}
                FROM orders WHERE o_orderdate >= DATE '1996-01-01'
            ){" UNION ALL ".join(branches)}
        """


def _dup_components_sql() -> str:
    """dup_components twin body — reused nested by dup_cluster_sizes."""
    return f"""
            -- the certified embedding_near_dups pair CTEs + a recursive
            -- transitive closure; component = min reachable node
            WITH RECURSIVE e AS (
                SELECT vec_id, embedding,
                       list_transform(embedding,
                           x -> x::DOUBLE * (1.0 / sqrt(list_sum(
                               list_transform(embedding, y -> y::DOUBLE * y::DOUBLE)))))
                           AS sv
                FROM embeddings
                WHERE list_sum(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE)) > 0
            ), p(band, bitval, plane) AS (
                VALUES {_hyperplane_values_sql(6, 4, 64)}
            ), s AS (
                SELECT e.vec_id, p.band,
                       SUM(CASE WHEN list_sum(list_transform(range(1, 65),
                                   i -> e.embedding[i]::DOUBLE * p.plane[i])) > 0
                                THEN p.bitval ELSE 0 END) AS sig
                FROM e CROSS JOIN p
                GROUP BY e.vec_id, p.band
            ), c AS (
                SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                FROM s a JOIN s b
                  ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
            ), pr AS (
                SELECT id_a, id_b FROM (
                    SELECT c.id_a, c.id_b,
                           list_sum(list_transform(range(1, 65),
                               i -> ea.sv[i] * eb.sv[i])) AS d
                    FROM c
                    JOIN e ea ON ea.vec_id = c.id_a
                    JOIN e eb ON eb.vec_id = c.id_b
                ) WHERE d >= 0.4
            ), und AS (
                SELECT id_a AS u, id_b AS v FROM pr
                UNION ALL
                SELECT id_b, id_a FROM pr
            ), reach(a, b) AS (
                SELECT u, u FROM (SELECT DISTINCT u FROM und)
                UNION
                SELECT r.a, ed.v FROM reach r JOIN und ed ON r.b = ed.u
            )
            SELECT CAST(a AS BIGINT) AS node, CAST(MIN(b) AS BIGINT) AS component
            FROM reach GROUP BY a
        """


_IVFPQ_SQL = r"""
            WITH coarse AS (
                SELECT vec_id AS cell, embedding AS cv
                FROM embeddings WHERE vec_id < 4
            ), cb AS (
                SELECT vec_id AS code, embedding AS bv
                FROM embeddings WHERE vec_id < 16
            ), sub AS (
                SELECT CAST(unnest(range(8)) AS INT) AS j
            ), assign0 AS (
                SELECT e.vec_id, c.cell,
                       list_sum(list_transform(range(1, 65),
                           i -> (e.embedding[i]::DOUBLE - c.cv[i]::DOUBLE)
                                * (e.embedding[i]::DOUBLE - c.cv[i]::DOUBLE)))
                           AS dist
                FROM embeddings e, coarse c
            ), assigned AS (
                SELECT vec_id, cell FROM (
                    SELECT vec_id, cell,
                           ROW_NUMBER() OVER (PARTITION BY vec_id
                                              ORDER BY dist, cell) AS rn
                    FROM assign0) WHERE rn = 1
            ), enc0 AS (
                SELECT e.vec_id, a.cell, s.j, b.code,
                       list_sum(list_transform(range(1, 9),
                           i -> ((e.embedding[s.j*8 + i]::DOUBLE
                                  - c.cv[s.j*8 + i]::DOUBLE)
                                 - b.bv[s.j*8 + i]::DOUBLE)
                                * ((e.embedding[s.j*8 + i]::DOUBLE
                                    - c.cv[s.j*8 + i]::DOUBLE)
                                   - b.bv[s.j*8 + i]::DOUBLE))) AS dist
                FROM embeddings e
                JOIN assigned a ON e.vec_id = a.vec_id
                JOIN coarse c ON a.cell = c.cell, sub s, cb b
            ), enc AS (
                SELECT vec_id, cell, j, code FROM (
                    SELECT vec_id, cell, j, code,
                           ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                              ORDER BY dist, code) AS rn
                    FROM enc0) WHERE rn = 1
            ), q AS (
                SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
            ), probes AS (
                SELECT cell FROM (
                    SELECT c.cell,
                           list_sum(list_transform(range(1, 65),
                               i -> (q.qv[i]::DOUBLE - c.cv[i]::DOUBLE)
                                    * (q.qv[i]::DOUBLE - c.cv[i]::DOUBLE)))
                               AS dist
                    FROM coarse c, q)
                ORDER BY dist, cell LIMIT 2
            ), lut AS (
                SELECT c.cell, s.j, b.code,
                       list_sum(list_transform(range(1, 9),
                           i -> ((q.qv[s.j*8 + i]::DOUBLE
                                  - c.cv[s.j*8 + i]::DOUBLE)
                                 - b.bv[s.j*8 + i]::DOUBLE)
                                * ((q.qv[s.j*8 + i]::DOUBLE
                                    - c.cv[s.j*8 + i]::DOUBLE)
                                   - b.bv[s.j*8 + i]::DOUBLE))) AS d
                FROM coarse c, sub s, cb b, q
                WHERE c.cell IN (SELECT cell FROM probes)
            )
            SELECT enc.vec_id, ROUND(SUM(lut.d) + 1e-9, 4) AS approx_dist
            FROM enc
            JOIN lut ON enc.cell = lut.cell AND enc.j = lut.j
                    AND enc.code = lut.code
            WHERE enc.cell IN (SELECT cell FROM probes)
            GROUP BY 1
            ORDER BY approx_dist, vec_id
            LIMIT 10
        """


def _md5_32bit_sql(expr: str) -> str:
    """32-bit int from the first 8 hex digits of md5(expr), rebuilt
    digit-by-digit (DuckDB has no hex->int conv) — the same idiom as
    _split_oracle_sql, parameterized on the hashed expression."""
    h = f"md5({expr})"
    return " + ".join(
        f"(strpos('0123456789abcdef', substr({h}, {d + 1}, 1)) - 1) * {16 ** (7 - d)}"
        for d in range(8)
    )


def _dsir_weights_ctes() -> str:
    """Shared CTE chain for the dsir_weights / dsir_sample twins:
    word-bigram shingles with multiplicity (same short-doc fallback as
    the decontaminate twin), 32-bit md5 bucket % 8192, Laplace-smoothed
    (a=1) bucket models on target (lang='en') vs raw (all documents),
    per-doc sum of ln(p_target/p_raw)."""
    bucket = _md5_32bit_sql("'dsir:' || sh")
    return rf"""
            WITH w AS (
                SELECT doc_id, lang,
                       list_filter(string_split_regex(lower(text), '[^\p{{L}}\p{{N}}]+'),
                                   x -> x <> '') AS words
                FROM documents
            ), g AS (
                SELECT doc_id, lang, unnest(
                    list_filter([array_to_string(list_slice(words, i, i + 1), ' ')
                                 for i in range(1, greatest(len(words) - 1, 1) + 1)],
                                x -> x <> '')) AS sh
                FROM w
            ), gb AS (
                SELECT doc_id, lang, ({bucket}) % 8192 AS b FROM g
            ), cr AS (
                SELECT b, COUNT(*) AS c FROM gb GROUP BY 1
            ), ct AS (
                SELECT b, COUNT(*) AS c FROM gb WHERE lang = 'en' GROUP BY 1
            ), m AS (
                SELECT COALESCE(cr.b, ct.b) AS b,
                       COALESCE(cr.c, 0) AS crc,
                       COALESCE(ct.c, 0) AS ctc
                FROM cr FULL OUTER JOIN ct ON cr.b = ct.b
            ), t AS (
                SELECT SUM(crc) AS tr, SUM(ctc) AS tt FROM m
            ), lw AS (
                SELECT b, ln(((ctc + 1.0) / (tt + 1.0 * 8192.0))
                           / ((crc + 1.0) / (tr + 1.0 * 8192.0))) AS lw
                FROM m CROSS JOIN t
            ), per_doc AS (
                SELECT gb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
                       SUM(lw.lw) AS slw
                FROM gb JOIN lw USING (b)
                GROUP BY 1
            ), wt AS (
                SELECT docs.doc_id,
                       COALESCE(per_doc.n_feats, 0) AS n_feats,
                       ROUND(COALESCE(per_doc.slw, 0.0) + 1e-9, 4) AS logratio
                FROM (SELECT doc_id FROM documents) docs
                LEFT JOIN per_doc USING (doc_id)
            )"""


def oracle_sql() -> dict[str, str]:
    vec = _vec_sql()
    cos = (
        "list_sum(list_transform(range(1,65), i -> embedding[i]::DOUBLE * q[i])) / "
        "(sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) * "
        "sqrt(list_sum(list_transform(q, x -> x * x))))"
    )
    gumbel32 = _md5_32bit_sql("'dsir-gumbel:' || CAST(doc_id AS VARCHAR)")
    dsir = _dsir_weights_ctes()
    return {
        "dsir_weights": dsir
        + """
            SELECT doc_id, n_feats, logratio FROM wt
        """,
        "dsir_sample": dsir
        + f"""
            , res AS (
                SELECT doc_id, n_feats, logratio,
                       ROUND(logratio / 1.0
                             + (-ln(-ln((({gumbel32}) + 0.5) / 4294967296.0)))
                             + 1e-9, 6) AS sample_key
                FROM wt
            )
            SELECT doc_id, n_feats, logratio, sample_key
            FROM res
            ORDER BY sample_key DESC, doc_id
            LIMIT 50
        """,
        "bigram_lm_scores": r"""
            -- text.bigram_logprob_scores twin: same tokenizer as the
            -- unigram twin, bigram pairs from adjacent positions,
            -- additive smoothing 0.5 over the unigram vocabulary,
            -- conditional p(w2|w1) = (c12+s)/(c1+s*|V|), natural log
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                   x -> x <> '') AS ws
                FROM documents
            ), pp AS (
                SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM (
                    SELECT doc_id,
                           unnest([{'w1': ws[i], 'w2': ws[i+1]}
                                   for i in range(1, len(ws))]) AS p
                    FROM w WHERE len(ws) >= 2
                )
            ), bg AS (
                SELECT w1, w2, COUNT(*) AS c12 FROM pp GROUP BY 1, 2
            ), ctx AS (
                SELECT w1, SUM(c12) AS c1 FROM bg GROUP BY 1
            ), v AS (
                SELECT COUNT(DISTINCT u) AS nv
                FROM (SELECT unnest(ws) AS u FROM w)
            ), d AS (
                SELECT pp.doc_id, COUNT(*) AS n_bigrams,
                       AVG(ln((c12 + 0.5) / (c1 + 0.5 * nv))) AS alp
                FROM pp JOIN bg USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN v
                GROUP BY pp.doc_id
            )
            SELECT docs.doc_id,
                   CAST(COALESCE(d.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                   ROUND(d.alp + 1e-9, 4) AS avg_logprob
            FROM (SELECT doc_id FROM documents) docs
            LEFT JOIN d USING (doc_id)
        """,
        "corpus_overlap": r"""
            -- text.corpus_overlap twin: same 3-shingle pipeline as the
            -- decontaminate twin, distinct sets of the even/odd halves,
            -- full-outer joined into one overlap row
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                   x -> x <> '') AS words
                FROM documents
            ), g AS (
                SELECT doc_id, unnest(list_distinct(
                    list_filter([array_to_string(list_slice(words, i, i + 2), ' ')
                                 for i in range(1, greatest(len(words) - 2, 1) + 1)],
                                x -> x <> ''))) AS sh
                FROM w
            ), ga AS (
                SELECT DISTINCT sh FROM g WHERE doc_id % 2 = 0
            ), gb AS (
                SELECT DISTINCT sh FROM g WHERE doc_id % 2 = 1
            ), j AS (
                SELECT ga.sh IS NOT NULL AS ina, gb.sh IS NOT NULL AS inb
                FROM ga FULL OUTER JOIN gb ON ga.sh = gb.sh
            ), agg AS (
                SELECT CAST(COALESCE(SUM(CASE WHEN ina THEN 1 ELSE 0 END), 0)
                            AS BIGINT) AS n_grams_a,
                       CAST(COALESCE(SUM(CASE WHEN inb THEN 1 ELSE 0 END), 0)
                            AS BIGINT) AS n_grams_b,
                       CAST(COALESCE(SUM(CASE WHEN ina AND inb THEN 1 ELSE 0 END), 0)
                            AS BIGINT) AS n_common
                FROM j
            )
            SELECT n_grams_a, n_grams_b, n_common,
                   ROUND(n_common / greatest(n_grams_a + n_grams_b - n_common, 1)
                         + 1e-9, 6) AS jaccard,
                   ROUND(n_common / greatest(n_grams_a, 1) + 1e-9, 6) AS containment_a,
                   ROUND(n_common / greatest(n_grams_b, 1) + 1e-9, 6) AS containment_b
            FROM agg
        """,
        "corpus_overlap_delta": r"""
            -- text.corpus_overlap_delta twin: same 3-shingle pipeline as
            -- the corpus_overlap twin; delta batch = id%3==1 docs, seen
            -- state = distinct grams of id%3==0 docs, reference = grams
            -- of id%3==2 docs; two left joins + one aggregate row
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                   x -> x <> '') AS words
                FROM documents
            ), g AS (
                SELECT doc_id, unnest(list_distinct(
                    list_filter([array_to_string(list_slice(words, i, i + 2), ' ')
                                 for i in range(1, greatest(len(words) - 2, 1) + 1)],
                                x -> x <> ''))) AS sh
                FROM w
            ), dg AS (
                SELECT DISTINCT sh FROM g WHERE doc_id % 3 = 1
            ), seen AS (
                SELECT DISTINCT sh FROM g WHERE doc_id % 3 = 0
            ), ref AS (
                SELECT DISTINCT sh FROM g WHERE doc_id % 3 = 2
            ), j AS (
                SELECT seen.sh IS NOT NULL AS is_seen,
                       ref.sh IS NOT NULL AS in_ref
                FROM dg LEFT JOIN seen ON dg.sh = seen.sh
                        LEFT JOIN ref ON dg.sh = ref.sh
            ), agg AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n_delta_grams,
                       CAST(COALESCE(SUM(CASE WHEN NOT is_seen THEN 1 ELSE 0 END),
                                     0) AS BIGINT) AS n_new_grams,
                       CAST(COALESCE(SUM(CASE WHEN NOT is_seen AND in_ref
                                              THEN 1 ELSE 0 END), 0) AS BIGINT)
                           AS n_new_common
                FROM j
            )
            SELECT n_delta_grams, n_new_grams, n_new_common,
                   ROUND(n_new_grams / greatest(n_delta_grams, 1) + 1e-9, 6)
                       AS new_gram_ratio,
                   ROUND(n_new_common / greatest(n_new_grams, 1) + 1e-9, 6)
                       AS new_contamination
            FROM agg
        """,
        "gram_state_append": r"""
            -- text.corpus_state_append twin: the delta batch's distinct
            -- 3-shingles ANTI-joined against the id%3==0 state grams —
            -- the rows the monitoring loop appends to the state table
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                   x -> x <> '') AS words
                FROM documents
            ), g AS (
                SELECT doc_id, unnest(list_distinct(
                    list_filter([array_to_string(list_slice(words, i, i + 2), ' ')
                                 for i in range(1, greatest(len(words) - 2, 1) + 1)],
                                x -> x <> ''))) AS sh
                FROM w
            ), dg AS (
                SELECT DISTINCT sh FROM g WHERE doc_id % 3 = 1
            ), seen AS (
                SELECT DISTINCT sh FROM g WHERE doc_id % 3 = 0
            )
            SELECT dg.sh AS gram
            FROM dg ANTI JOIN seen ON dg.sh = seen.sh
            ORDER BY gram
        """,
        "length_histogram": r"""
            -- text.token_length_histogram twin: whitespace token count
            -- (same tokenizer as token_counts), bucket via integer bit
            -- length, lo/hi from integer shifts — no float log anywhere
            WITH t AS (
                SELECT COALESCE(len(list_filter(regexp_split_to_array(text, '\s+'),
                                                x -> x <> '')), 0) AS n
                FROM documents
            ), b AS (
                SELECT CASE WHEN n <= 0 THEN -1
                            ELSE CAST(length(bin(CAST(n AS BIGINT))) - 1 AS INTEGER)
                       END AS bucket, n
                FROM t
            )
            SELECT bucket,
                   CASE WHEN bucket >= 0 THEN CAST(1 AS BIGINT) << bucket END AS lo_tokens,
                   CASE WHEN bucket >= 0 THEN (CAST(1 AS BIGINT) << (bucket + 1)) - 1 END AS hi_tokens,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n) AS BIGINT) AS total_tokens
            FROM b GROUP BY bucket ORDER BY bucket
        """,
        "quantile_bin_prices": r"""
            -- features.quantile_bin twin: interpolated octile cut
            -- points (quantile_cont == Spark percentile), rounded to
            -- the 4dp parity contract BEFORE comparison so bin edges
            -- are bit-identical; strict > above each cut
            WITH q AS (
                SELECT list_transform(
                    quantile_cont(l_extendedprice,
                        [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]),
                    x -> round(x + 1e-8, 4)) AS cuts
                FROM lineitem
            ), b AS (
                SELECT l_extendedprice AS p,
                       1 + (CASE WHEN l_extendedprice > cuts[1] THEN 1 ELSE 0 END)
                         + (CASE WHEN l_extendedprice > cuts[2] THEN 1 ELSE 0 END)
                         + (CASE WHEN l_extendedprice > cuts[3] THEN 1 ELSE 0 END)
                         + (CASE WHEN l_extendedprice > cuts[4] THEN 1 ELSE 0 END)
                         + (CASE WHEN l_extendedprice > cuts[5] THEN 1 ELSE 0 END)
                         + (CASE WHEN l_extendedprice > cuts[6] THEN 1 ELSE 0 END)
                         + (CASE WHEN l_extendedprice > cuts[7] THEN 1 ELSE 0 END)
                       AS price_bin
                FROM lineitem, q
                WHERE l_extendedprice IS NOT NULL
            )
            SELECT price_bin,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   ROUND(MIN(p) + 1e-8, 2) AS min_price,
                   ROUND(MAX(p) + 1e-8, 2) AS max_price
            FROM b GROUP BY price_bin ORDER BY price_bin
        """,
        "cube_sales": r"""
            -- q_cube_sales twin: full CUBE lattice with per-column
            -- GROUPING flags (Spark's grouping() == DuckDB's GROUPING())
            SELECT o_orderpriority, o_orderstatus,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   ROUND(SUM(o_totalprice) + 1e-6, 2) AS revenue,
                   CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
                   CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status
            FROM orders
            GROUP BY CUBE (o_orderpriority, o_orderstatus)
        """,
        "corpus_diversity": r"""
            -- text.corpus_diversity twin: non-distinct 3-shingles with
            -- the short-doc fallback (same construction as the dsir
            -- twin), per-source totals + distincts + type-token ratio
            WITH w AS (
                SELECT doc_id, source,
                       list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                   x -> x <> '') AS words
                FROM documents
            ), g AS (
                SELECT source, unnest(
                    list_filter([array_to_string(list_slice(words, i, i + 2), ' ')
                                 for i in range(1, greatest(len(words) - 2, 1) + 1)],
                                x -> x <> '')) AS sh
                FROM w
            ), per AS (
                SELECT source,
                       CAST(COUNT(*) AS BIGINT) AS total_grams,
                       CAST(COUNT(DISTINCT sh) AS BIGINT) AS distinct_grams
                FROM g GROUP BY 1
            ), d AS (
                SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
                FROM documents GROUP BY 1
            )
            SELECT d.source, n_docs,
                   COALESCE(total_grams, 0) AS total_grams,
                   COALESCE(distinct_grams, 0) AS distinct_grams,
                   ROUND(COALESCE(distinct_grams, 0)
                         / greatest(COALESCE(total_grams, 0), 1) + 1e-9, 6)
                       AS type_token_ratio
            FROM d LEFT JOIN per USING (source)
            ORDER BY d.source
        """,
        "doc_containment": r"""
            -- dedup.ngram_containment_pairs twin: distinct 3-shingles
            -- (decontaminate-twin construction), posting self-join,
            -- containment = shared / min(|A|,|B|), contained side =
            -- smaller set (lesser id on ties), threshold on the
            -- UNROUNDED ratio like the Spark plan
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                   x -> x <> '') AS words
                FROM documents
            ), g AS (
                SELECT doc_id, unnest(list_distinct(
                    list_filter([array_to_string(list_slice(words, i, i + 2), ' ')
                                 for i in range(1, greatest(len(words) - 2, 1) + 1)],
                                x -> x <> ''))) AS sh
                FROM w
            ), sz AS (
                SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS s FROM g GROUP BY 1
            ), p AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
                FROM g a JOIN g b USING (sh)
                WHERE a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   ROUND(shared / least(sa.s, sb.s) + 1e-9, 6) AS containment,
                   CASE WHEN sa.s < sb.s THEN id_a
                        WHEN sb.s < sa.s THEN id_b
                        ELSE least(id_a, id_b) END AS contained_id
            FROM p
            JOIN sz sa ON sa.doc_id = p.id_a
            JOIN sz sb ON sb.doc_id = p.id_b
            WHERE shared / least(sa.s, sb.s) >= 0.6
            ORDER BY id_a, id_b
        """,
        "semantic_dedup": r"""
            -- dedup.semantic_dedup twin (SemDeDup): argmin nearest-
            -- centroid assignment with (dist, cluster_id) tie-break,
            -- within-cluster normalized-dot pairs >= 0.3 in index
            -- order, drop each pair's higher id (non-transitive)
            WITH c AS (
                SELECT vec_id AS cluster_id, embedding AS centroid
                FROM embeddings WHERE vec_id < 8
            ), d AS (
                SELECT e.vec_id, c.cluster_id,
                       list_sum(list_transform(range(1, 65),
                           i -> (e.embedding[i]::DOUBLE - c.centroid[i]::DOUBLE)
                              * (e.embedding[i]::DOUBLE - c.centroid[i]::DOUBLE))) AS dist
                FROM embeddings e CROSS JOIN c
            ), a AS (
                SELECT vec_id, cluster_id FROM d
                QUALIFY ROW_NUMBER() OVER (
                    PARTITION BY vec_id ORDER BY dist, cluster_id) = 1
            ), e AS (
                SELECT vec_id,
                       list_transform(embedding,
                           x -> x::DOUBLE * (1.0 / sqrt(list_sum(
                               list_transform(embedding, y -> y::DOUBLE * y::DOUBLE)))))
                           AS sv
                FROM embeddings
                WHERE list_sum(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE)) > 0
            ), p AS (
                SELECT ab.vec_id AS id_b
                FROM a aa
                JOIN a ab ON aa.cluster_id = ab.cluster_id AND aa.vec_id < ab.vec_id
                JOIN e ea ON ea.vec_id = aa.vec_id
                JOIN e eb ON eb.vec_id = ab.vec_id
                WHERE list_sum(list_transform(range(1, 65),
                          i -> ea.sv[i] * eb.sv[i])) >= 0.3
            )
            SELECT vec_id, label FROM embeddings
            WHERE vec_id NOT IN (SELECT id_b FROM p)
        """,
        "duplicate_spans": r"""
            -- dedup.duplicate_gram_spans twin (Lee et al. spans):
            -- positioned 5-gram explode with the whole-doc short-doc
            -- fallback, grams in >= 2 distinct docs, gaps-and-islands
            -- merge (break when the position gap exceeds n), span end
            -- capped at the doc's last word
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                   x -> x <> '') AS words
                FROM documents
            ), t AS (
                SELECT doc_id, words, len(words) AS nw FROM w WHERE len(words) > 0
            ), g0 AS (
                SELECT doc_id, nw, words,
                       unnest(range(1, greatest(nw - 4, 1) + 1)) AS i
                FROM t
            ), g AS (
                SELECT doc_id, nw, CAST(i - 1 AS BIGINT) AS pos,
                       array_to_string(list_slice(words, i, i + 4), ' ') AS sh
                FROM g0
            ), dup AS (
                SELECT sh FROM g GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2
            ), m AS (
                SELECT g.doc_id, g.pos, g.nw FROM g JOIN dup USING (sh)
            ), i1 AS (
                SELECT doc_id, pos, nw,
                       CASE WHEN pos - lag(pos) OVER (
                                PARTITION BY doc_id ORDER BY pos) > 5
                            THEN 1 ELSE 0 END AS brk
                FROM m
            ), i2 AS (
                SELECT doc_id, pos, nw,
                       SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
                FROM i1
            )
            SELECT doc_id, MIN(pos) AS span_start,
                   LEAST(MAX(pos) + 4, MAX(nw) - 1) AS span_end,
                   CAST(COUNT(*) AS BIGINT) AS n_dup_grams
            FROM i2 GROUP BY doc_id, island
        """,
        "forecast_revenue": r"""
            -- Q6-shaped twin: same date/discount/quantity bands
            SELECT ROUND(SUM(l_extendedprice * l_discount) + 1e-6, 2)
                       AS revenue_delta
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1997-01-01'
              AND l_discount BETWEEN 0.03 AND 0.05
              AND l_quantity < 24
        """,
        "top_supplier": r"""
            -- Q15-shaped twin: revenue view, scalar max, tie-safe via
            -- the same 2-dp rounding as the Spark side
            WITH rev AS (
                SELECT l_suppkey,
                       ROUND(SUM(l_extendedprice * (1 - l_discount)) + 1e-6, 2)
                           AS total_revenue
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate <  TIMESTAMP '1996-04-01'
                GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name, total_revenue
            FROM rev JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
        """,
        "large_orders": r"""
            -- Q18-shaped twin: grouped HAVING feeding the join
            WITH big AS (
                SELECT l_orderkey,
                       ROUND(SUM(l_quantity) + 1e-9, 2) AS sum_qty
                FROM lineitem GROUP BY l_orderkey
                HAVING ROUND(SUM(l_quantity) + 1e-9, 2) > 250
            )
            SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
                   sum_qty
            FROM orders
            JOIN big ON o_orderkey = l_orderkey
            JOIN customer ON o_custkey = c_custkey
        """,
        "disjunctive_revenue": r"""
            -- Q19-shaped twin: OR of three brand/size/quantity bands
            SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)) + 1e-6, 2)
                       AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 5 AND 35)
               OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
                   AND l_quantity BETWEEN 10 AND 40)
               OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
                   AND l_quantity BETWEEN 15 AND 45)
        """,
        "cold_customers": r"""
            -- Q22-shaped twin: scalar avg + NOT EXISTS per segment
            WITH ab AS (
                SELECT ROUND(AVG(c_acctbal) + 1e-9, 4) AS v
                FROM customer WHERE c_acctbal > 0
            )
            SELECT c_mktsegment,
                   CAST(COUNT(*) AS BIGINT) AS n_customers,
                   ROUND(SUM(c_acctbal) + 1e-6, 2) AS total_acctbal
            FROM customer, ab
            WHERE c_acctbal > ab.v
              AND NOT EXISTS (
                  SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1999-01-01'
              )
            GROUP BY c_mktsegment
        """,
        "nation_trade": r"""
            -- Q7-shaped twin: bidirectional NATION_1/NATION_2 volume
            SELECT sn.n_name AS supp_nation,
                   cn.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS INT) AS l_year,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)) + 1e-6, 2)
                       AS revenue
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation cn ON c_nationkey = cn.n_nationkey
            WHERE l_shipdate >= TIMESTAMP '1995-01-01'
              AND l_shipdate <= TIMESTAMP '1996-12-31'
              AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
                OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
            GROUP BY 1, 2, 3
        """,
        "nation_profit": r"""
            -- Q9-shaped twin: LIKE-filtered part profit by supplier
            -- nation and order year (cost = 10% of retail per unit)
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS INT) AS o_year,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)
                             - p_retailprice * l_quantity * 0.1) + 1e-6, 2)
                       AS sum_profit
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            JOIN orders   ON l_orderkey = o_orderkey
            WHERE p_name LIKE '%gear%'
            GROUP BY 1, 2
        """,
        "returned_top_customers": r"""
            -- Q10-shaped twin: Q4-1995 return-flag revenue, top 20
            -- customers, custkey tie-break pins the cutoff
            SELECT c_custkey, c_name, c_acctbal, n_name,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)) + 1e-6, 2)
                       AS revenue
            FROM orders
            JOIN lineitem ON o_orderkey = l_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            WHERE o_orderdate >= TIMESTAMP '1995-10-01'
              AND o_orderdate <  TIMESTAMP '1996-01-01'
              AND l_returnflag = 'R'
            GROUP BY 1, 2, 3, 4
            ORDER BY revenue DESC, c_custkey
            LIMIT 20
        """,
        "priority_shipclass": r"""
            -- Q12-shaped twin: CASE tallies of critical vs other
            -- priorities per line status, 1996 ship window
            SELECT l_linestatus,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1997-01-01'
            GROUP BY 1
        """,
        "ivfpq_topk": _IVFPQ_SQL,
        "ann_recall_trained": """
            -- bounded oracle (the approx_distinct pattern): the
            -- trained-index gate's recall depends on k-means floats no
            -- other engine reproduces, so the oracle pins the
            -- CONTRACT — 10 exact neighbors, recall@10 >= 0.8 — and
            -- the value hash matches iff Spark's trained IVF-PQ
            -- actually clears it on the clusterable corpus.
            SELECT CAST(10 AS BIGINT) AS n_exact, TRUE AS meets_gate
        """,
        "ivf_topk": """
            -- bounded oracle (round 10, same pattern): topk_ivf's
            -- recall@10 vs the exact cosine top-10 probing 2 of 8
            -- DISTRIBUTED-trained cells on the blob-clusterable
            -- corpus must clear 0.8; the centroid floats themselves
            -- are engine-local, the contract is not.
            SELECT CAST(10 AS BIGINT) AS n_exact, TRUE AS meets_gate
        """,
        "ann_recall": rf"""
            -- similarity.ann_recall_at_k twin: the certified IVF-PQ
            -- probe list (nested CTE, verbatim) left-joined to the
            -- exact squared-L2 top-10 for the same query vector
            WITH approx AS (SELECT * FROM ({_IVFPQ_SQL})),
            q AS (
                SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
            ), exact AS (
                SELECT vec_id FROM (
                    SELECT e.vec_id,
                           list_sum(list_transform(range(1, 65),
                               i -> (e.embedding[i]::DOUBLE - q.qv[i]::DOUBLE)
                                    * (e.embedding[i]::DOUBLE - q.qv[i]::DOUBLE)))
                               AS dist
                    FROM embeddings e, q)
                ORDER BY dist, vec_id LIMIT 10
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
                   CAST(COUNT(a.vec_id) AS BIGINT) AS n_hit,
                   ROUND(COUNT(a.vec_id) / COUNT(*) + 1e-9, 4) AS recall
            FROM exact e LEFT JOIN approx a ON e.vec_id = a.vec_id
        """,
        "pq_topk": r"""
            -- similarity.pq_encode/pq_topk twin: same fixed codebook
            -- (subvector slices of vec_id < 16), same slice-argmin
            -- encode with (dist, code) tie-break, same ADC lookup sum
            WITH cb AS (
                SELECT vec_id AS code, embedding AS cv
                FROM embeddings WHERE vec_id < 16
            ), sub AS (
                SELECT CAST(unnest(range(8)) AS INT) AS j
            ), enc0 AS (
                SELECT e.vec_id, s.j, c.code,
                       list_sum(list_transform(range(1, 9),
                           i -> (e.embedding[s.j*8 + i]::DOUBLE
                                 - c.cv[s.j*8 + i]::DOUBLE)
                                * (e.embedding[s.j*8 + i]::DOUBLE
                                   - c.cv[s.j*8 + i]::DOUBLE))) AS dist
                FROM embeddings e, sub s, cb c
            ), enc AS (
                SELECT vec_id, j, code FROM (
                    SELECT vec_id, j, code,
                           ROW_NUMBER() OVER (
                               PARTITION BY vec_id, j
                               ORDER BY dist, code) AS rn
                    FROM enc0)
                WHERE rn = 1
            ), q AS (
                SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
            ), lut AS (
                SELECT s.j, c.code,
                       list_sum(list_transform(range(1, 9),
                           i -> (q.qv[s.j*8 + i]::DOUBLE
                                 - c.cv[s.j*8 + i]::DOUBLE)
                                * (q.qv[s.j*8 + i]::DOUBLE
                                   - c.cv[s.j*8 + i]::DOUBLE))) AS d
                FROM sub s, cb c, q
            )
            SELECT enc.vec_id, ROUND(SUM(lut.d) + 1e-9, 4) AS approx_dist
            FROM enc JOIN lut ON enc.j = lut.j AND enc.code = lut.code
            GROUP BY 1
            ORDER BY approx_dist, vec_id
            LIMIT 10
        """,
        "c4_clean": r"""
            -- text.c4_clean twin: same synthesized line corpus, same
            -- line rules (>=3 words, terminal punct, no code tells),
            -- same doc gates, text rebuilt from kept lines
            WITH d AS (
                SELECT doc_id,
                       replace(text, ' table ', '.' || chr(10) || 'table ')
                           AS t
                FROM documents
            ), l AS (
                SELECT doc_id, t,
                       list_filter(
                           list_transform(string_split(t, chr(10)),
                                          x -> trim(x)),
                           x -> x <> '') AS lines
                FROM d
            ), k AS (
                SELECT doc_id, t, lines,
                       list_filter(lines, x ->
                           len(list_filter(string_split_regex(x, '[ \t]+'),
                                           w -> w <> '')) >= 3
                           AND regexp_matches(x, '[.!?"]$')
                           AND NOT contains(lower(x), 'javascript')
                           AND NOT contains(x, '{')
                           AND NOT contains(x, '}')) AS keptl
                FROM l
            )
            SELECT doc_id,
                   array_to_string(keptl, chr(10)) AS text,
                   CAST(len(lines) AS INT) AS n_lines_orig,
                   CAST(len(keptl) AS INT) AS n_lines_kept
            FROM k
            WHERE len(keptl) >= 2
              AND NOT contains(lower(t), 'lorem ipsum')
        """,
        "psi_drift": r"""
            -- checks.population_stability_index twin: base-decile
            -- bins, strict-> bucketing, epsilon-floored PSI terms
            WITH base AS (
                SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
                WHERE o_orderdate < TIMESTAMP '1996-01-01'
                  AND o_totalprice IS NOT NULL
            ), curr AS (
                SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
                WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                  AND o_totalprice IS NOT NULL
            ), b AS (
                SELECT quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5,
                                         0.6, 0.7, 0.8, 0.9]) AS bs
                FROM base
            ), nb AS (
                SELECT CAST(len(list_filter(b.bs, x -> base.v > x)) AS INT)
                           AS bin,
                       COUNT(*) AS n_base
                FROM base, b GROUP BY 1
            ), nc AS (
                SELECT CAST(len(list_filter(b.bs, x -> curr.v > x)) AS INT)
                           AS bin,
                       COUNT(*) AS n_curr
                FROM curr, b GROUP BY 1
            ), bins AS (
                SELECT CAST(unnest(range(10)) AS INT) AS bin
            ), j AS (
                SELECT bins.bin,
                       COALESCE(n_base, 0) AS n_base,
                       COALESCE(n_curr, 0) AS n_curr
                FROM bins LEFT JOIN nb USING (bin) LEFT JOIN nc USING (bin)
            ), t AS (
                SELECT SUM(n_base) AS tb, SUM(n_curr) AS tc FROM j
            )
            SELECT bin,
                   CAST(n_base AS BIGINT) AS n_base,
                   CAST(n_curr AS BIGINT) AS n_curr,
                   ROUND(GREATEST(n_base / tb, 1e-4) + 1e-12, 6) AS p_base,
                   ROUND(GREATEST(n_curr / tc, 1e-4) + 1e-12, 6) AS p_curr,
                   ROUND((GREATEST(n_curr / tc, 1e-4)
                          - GREATEST(n_base / tb, 1e-4))
                         * ln(GREATEST(n_curr / tc, 1e-4)
                              / GREATEST(n_base / tb, 1e-4)) + 1e-12, 6)
                       AS psi_term
            FROM j, t
            ORDER BY bin
        """,
        "temperature_mix": _temperature_mix_oracle_sql(),
        "excess_suppliers": r"""
            -- Q20-shaped twin: over-shippers of 'red' parts via the
            -- same grouped aggregate + correlated per-part average
            WITH shipped AS (
                SELECT l_partkey, l_suppkey,
                       ROUND(SUM(l_quantity) + 1e-9, 2) AS qty
                FROM lineitem
                JOIN part ON l_partkey = p_partkey
                WHERE p_name LIKE '%red%'
                GROUP BY 1, 2
            ), per_part AS (
                SELECT l_partkey AS t_partkey,
                       ROUND(AVG(qty) + 1e-9, 4) AS avg_qty
                FROM shipped GROUP BY 1
            )
            SELECT DISTINCT s_suppkey, s_name
            FROM supplier
            JOIN shipped ON s_suppkey = l_suppkey
            JOIN per_part ON l_partkey = t_partkey
            WHERE qty > 3.0 * avg_qty
            ORDER BY s_suppkey
        """,
        "token_budget_mix": _token_budget_oracle_sql(),
        "semantic_decontaminate": r"""
            -- similarity.semantic_decontaminate twin: cosine =
            -- index-ordered dot / (norm_a * norm_b), the SAME float
            -- sequence cosine_similarity's zip_with/aggregate folds
            -- produce; train rows too close to any test vector drop
            WITH n AS (
                SELECT vec_id, embedding,
                       sqrt(list_sum(list_transform(embedding,
                            y -> y::DOUBLE * y::DOUBLE))) AS nrm
                FROM embeddings
            ), t AS (
                SELECT * FROM n WHERE vec_id < 20
            ), tr AS (
                SELECT * FROM n WHERE vec_id >= 20
            ), hits AS (
                SELECT DISTINCT tr.vec_id
                FROM tr JOIN t
                  ON tr.nrm * t.nrm > 0
                 AND list_sum(list_transform(range(1, 65),
                         i -> tr.embedding[i]::DOUBLE * t.embedding[i]::DOUBLE))
                     / (tr.nrm * t.nrm) >= 0.3
            )
            SELECT CAST(vec_id AS BIGINT) AS vec_id FROM tr
            WHERE vec_id NOT IN (SELECT vec_id FROM hits)
        """,
        "dedup_keep_best": r"""
            -- keep_best_per_cluster twin: the certified ngram-jaccard
            -- pair CTEs + recursive closure + longest-member window
            WITH RECURSIVE w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                   x -> x <> '') AS words
                FROM documents
            ), g AS (
                SELECT doc_id, unnest(list_distinct(
                    list_filter([array_to_string(list_slice(words, i, i + 2), ' ')
                                 for i in range(1, greatest(len(words) - 2, 1) + 1)],
                                x -> x <> ''))) AS sh
                FROM w
            ), sz AS (
                SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id
            ), shared AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
                FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ), pr AS (
                SELECT id_a, id_b FROM shared
                JOIN sz sa ON sa.doc_id = id_a
                JOIN sz sb ON sb.doc_id = id_b
                WHERE c / (sa.n + sb.n - c) >= 0.8
            ), und AS (
                SELECT id_a AS u, id_b AS v FROM pr
                UNION ALL
                SELECT id_b, id_a FROM pr
            ), reach(a, b) AS (
                SELECT u, u FROM (SELECT DISTINCT u FROM und)
                UNION
                SELECT r.a, ed.v FROM reach r JOIN und ed ON r.b = ed.u
            ), comp AS (
                SELECT a AS node, MIN(b) AS component FROM reach GROUP BY a
            ), lab AS (
                SELECT d.doc_id, CAST(d.n_chars AS BIGINT) AS n_chars,
                       COALESCE(c2.component, d.doc_id) AS cmp
                FROM documents d LEFT JOIN comp c2 ON d.doc_id = c2.node
            ), r AS (
                SELECT doc_id, n_chars,
                       ROW_NUMBER() OVER (PARTITION BY cmp
                           ORDER BY n_chars DESC, doc_id) AS rn
                FROM lab
            )
            SELECT doc_id, n_chars FROM r WHERE rn = 1
        """,
        "min_cost_supplier": r"""
            -- Q2-shaped twin: literal correlated scalar-MIN subquery
            -- (the Spark side uses one window pass instead); suppkey
            -- tie-break keeps the winner deterministic
            WITH cost AS (
                SELECT p_partkey, p_brand, s_suppkey, s_name, s_acctbal,
                       n_name AS nation,
                       ROUND(AVG(l_extendedprice / l_quantity) + 1e-9, 4)
                           AS unit_cost
                FROM lineitem
                JOIN part ON l_partkey = p_partkey
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
                WHERE p_type = 'STANDARD' AND p_size BETWEEN 10 AND 20
                  AND r_name = 'EUROPE'
                GROUP BY 1, 2, 3, 4, 5, 6
            ), m AS (
                SELECT * FROM cost c
                WHERE unit_cost = (SELECT MIN(c2.unit_cost) FROM cost c2
                                   WHERE c2.p_partkey = c.p_partkey)
            )
            SELECT p_partkey, p_brand, s_suppkey, s_name, s_acctbal,
                   nation, unit_cost
            FROM m
            WHERE s_suppkey = (SELECT MIN(m2.s_suppkey) FROM m m2
                               WHERE m2.p_partkey = m.p_partkey)
            ORDER BY s_acctbal DESC, p_partkey
            LIMIT 100
        """,
        "important_parts": r"""
            -- Q11-shaped twin: HAVING > scalar-subquery threshold
            WITH per_part AS (
                SELECT l_partkey,
                       ROUND(SUM(l_extendedprice * (1 - l_discount))
                             + 1e-6, 2) AS part_value
                FROM lineitem
                JOIN supplier ON l_suppkey = s_suppkey
                WHERE s_nationkey = 3
                GROUP BY 1
            )
            SELECT l_partkey, part_value
            FROM per_part
            WHERE part_value > 0.001 * (SELECT ROUND(SUM(part_value)
                                                     + 1e-6, 2)
                                        FROM per_part)
            ORDER BY part_value DESC, l_partkey
        """,
        "supplier_variety": r"""
            -- Q16-shaped twin: NOT IN excluded-supplier subquery +
            -- grouped COUNT DISTINCT
            SELECT p_brand, p_type, p_size,
                   CAST(COUNT(DISTINCT l_suppkey) AS BIGINT)
                       AS supplier_cnt
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
              AND p_size IN (1, 4, 9, 16, 25, 36, 49)
              AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                    WHERE s_acctbal < 0)
            GROUP BY 1, 2, 3
            ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        """,
        "frequent_items": r"""
            -- skew.frequent_items twin: the full-vocabulary GROUP BY /
            -- HAVING answer the sketch-then-verify plan must equal
            WITH w AS (
                SELECT unnest(list_filter(
                           string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                           x -> x <> '')) AS word
                FROM documents
            ), t AS (SELECT COUNT(*) AS total FROM w)
            SELECT word,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   ROUND(COUNT(*) / (SELECT total FROM t) + 1e-9, 6)
                       AS row_share
            FROM w
            GROUP BY word
            HAVING COUNT(*) >= 0.005 * (SELECT total FROM t)
        """,
        "curriculum_order": _curriculum_oracle_sql(),
        "promo_revenue": r"""
            -- Q14-shaped twin: PROMO share of March-1996 revenue
            SELECT ROUND(100.0
                         * SUM(CASE WHEN p_type = 'PROMO'
                                    THEN l_extendedprice * (1 - l_discount)
                                    ELSE 0.0 END)
                         / SUM(l_extendedprice * (1 - l_discount))
                         + 1e-9, 4) AS promo_pct
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-03-01'
              AND l_shipdate <  TIMESTAMP '1996-04-01'
        """,
        "strip_dup_spans": r"""
            -- dedup.strip_duplicate_spans twin: positioned 5-grams
            -- with the short-doc fallback, grams in >= 2 docs with a
            -- min-id owner who keeps the occurrence, covered positions
            -- unioned per doc, text rebuilt from surviving words
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                   x -> x <> '') AS words
                FROM documents
            ), t AS (
                SELECT doc_id, words, len(words) AS nw FROM w WHERE len(words) > 0
            ), wp0 AS (
                SELECT doc_id, nw, words, unnest(range(1, nw + 1)) AS i FROM t
            ), wp AS (
                SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, words[i] AS word
                FROM wp0
            ), g0 AS (
                SELECT doc_id, nw, words,
                       unnest(range(1, greatest(nw - 4, 1) + 1)) AS i
                FROM t
            ), g AS (
                SELECT doc_id, nw, CAST(i - 1 AS BIGINT) AS pos,
                       array_to_string(list_slice(words, i, i + 4), ' ') AS sh
                FROM g0
            ), dup AS (
                SELECT sh, MIN(doc_id) AS owner
                FROM g GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2
            ), m AS (
                SELECT g.doc_id, g.pos, g.nw
                FROM g JOIN dup ON g.sh = dup.sh AND g.doc_id <> dup.owner
            ), cov AS (
                SELECT DISTINCT doc_id, CAST(cp AS BIGINT) AS pos
                FROM (SELECT doc_id,
                             unnest(range(pos, least(pos + 4, nw - 1) + 1)) AS cp
                      FROM m)
            ), kept AS (
                SELECT wp.doc_id, wp.pos, wp.word
                FROM wp LEFT JOIN cov
                  ON wp.doc_id = cov.doc_id AND wp.pos = cov.pos
                WHERE cov.doc_id IS NULL
            ), reb AS (
                SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS clean_text,
                       CAST(COUNT(*) AS BIGINT) AS n_words_kept
                FROM kept GROUP BY doc_id
            )
            SELECT t.doc_id,
                   COALESCE(reb.clean_text, '') AS clean_text,
                   COALESCE(reb.n_words_kept, 0) AS n_words_kept,
                   CAST(t.nw AS BIGINT) - COALESCE(reb.n_words_kept, 0)
                       AS n_words_removed
            FROM t LEFT JOIN reb USING (doc_id)
        """,
        "decontaminate_bloom": r"""
            -- text.decontaminate_bloom twin: the Bloom prefilter is
            -- exactness-preserving under exact_confirm (no false
            -- negatives), so the oracle is the EXACT decontamination
            -- (distinct 2-grams, benchmark slice doc_id % 37 == 0) —
            -- a hash match certifies the bloom path loses nothing
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                   x -> x <> '') AS words
                FROM documents
            ), g AS (
                SELECT doc_id, unnest(list_distinct(
                    list_filter([array_to_string(list_slice(words, i, i + 1), ' ')
                                 for i in range(1, greatest(len(words) - 1, 1) + 1)],
                                x -> x <> ''))) AS sh
                FROM w
            ), bench AS (
                SELECT DISTINCT sh FROM g WHERE doc_id % 37 = 0
            ), hits AS (
                SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
                FROM g JOIN bench USING (sh)
                GROUP BY g.doc_id
            )
            SELECT d.doc_id,
                   COALESCE(h.n_overlap, 0) AS n_overlap,
                   COALESCE(h.n_overlap, 0) >= 1 AS contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)
        """,
        "split_leakage": r"""
            -- sampling.split_leakage_check twin: md5 hash-split (same
            -- 32-bit fraction contract as dataset_split), planted
            -- duplicates of doc_id % 10 == 0 under id + 1000000,
            -- held-out docs joined to the train side's per-content-md5
            -- (min id, count) aggregate
            WITH base AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000 AS doc_id, text
                FROM documents WHERE doc_id % 10 = 0
            ), h8 AS (
                SELECT doc_id, text,
                       md5('split:' || CAST(doc_id AS VARCHAR)) AS h
                FROM base
            ), f AS (
                SELECT doc_id, text, ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 268435456 + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 16777216 + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 1048576 + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 65536 + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * 256 + (strpos('0123456789abcdef', substr(h, 7, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h, 8, 1)) - 1) * 1) / 4294967296.0 AS frac
                FROM h8
            ), s AS (
                SELECT doc_id,
                       CASE WHEN frac < 0.9 THEN 'train'
                            WHEN frac < 0.9500000000000001 THEN 'val'
                            ELSE 'test' END AS split,
                       md5(array_to_string(
                           list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                       x -> x <> ''), ' ')) AS ch
                FROM f
            ), train AS (
                SELECT ch, MIN(doc_id) AS train_dup_id,
                       CAST(COUNT(*) AS BIGINT) AS n_train_dups
                FROM s WHERE split = 'train' GROUP BY ch
            )
            SELECT s.doc_id, s.split, t.train_dup_id, t.n_train_dups
            FROM s JOIN train t USING (ch)
            WHERE s.split <> 'train'
        """,
        "unigram_scores": r"""
            -- mirrors text.unigram_logprob_scores: same tokenizer as
            -- the text family, additive smoothing 0.5, natural log
            WITH wx AS (
                SELECT doc_id,
                       unnest(list_filter(
                           string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                           x -> x <> '')) AS w
                FROM documents
            ), v AS (
                SELECT w, COUNT(*) AS c FROM wx GROUP BY 1
            ), t AS (
                SELECT SUM(c) AS total, COUNT(*) AS nv FROM v
            ), d AS (
                SELECT doc_id, COUNT(*) AS n_words,
                       AVG(ln((c + 0.5) / (total + 0.5 * nv))) AS alp
                FROM wx JOIN v USING (w) CROSS JOIN t
                GROUP BY doc_id
            )
            SELECT docs.doc_id,
                   CAST(COALESCE(d.n_words, 0) AS BIGINT) AS n_words,
                   ROUND(d.alp + 1e-9, 4) AS avg_logprob
            FROM (SELECT doc_id FROM documents) docs
            LEFT JOIN d USING (doc_id)
        """,
        "dup_components": _dup_components_sql(),
        "quality_model_score": _quality_model_sql(),
        "pca_project": _pca_oracle_sql(),
        "ks_drift": r"""
            -- checks.ks_two_sample twin: the Spark side's distributed
            -- prefix sum IS the plain windowed cumulative sum below;
            -- argmax tiebreak on smallest value, same rounding nudge
            WITH base AS (
                SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
                WHERE o_orderdate < TIMESTAMP '1996-01-01'
                  AND o_totalprice IS NOT NULL
            ), curr AS (
                SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
                WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                  AND o_totalprice IS NOT NULL
            ), counts AS (
                SELECT v, SUM(b) AS nb, SUM(c) AS nc FROM (
                    SELECT v, 1 AS b, 0 AS c FROM base
                    UNION ALL
                    SELECT v, 0 AS b, 1 AS c FROM curr
                ) GROUP BY v
            ), tot AS (
                SELECT CAST(SUM(nb) AS DOUBLE) AS tb,
                       CAST(SUM(nc) AS DOUBLE) AS tc FROM counts
            ), cum AS (
                SELECT v,
                       SUM(nb) OVER (ORDER BY v) AS cb,
                       SUM(nc) OVER (ORDER BY v) AS cc
                FROM counts
            ), gaps AS (
                SELECT v, ROUND(ABS(cb / tb - cc / tc) + 1e-9, 6) AS d
                FROM cum, tot
            )
            SELECT d AS ks_stat, v AS at_value,
                   (SELECT CAST(tb AS BIGINT) FROM tot) AS n_base,
                   (SELECT CAST(tc AS BIGINT) FROM tot) AS n_curr
            FROM gaps ORDER BY d DESC, v ASC LIMIT 1
        """,
        "chi2_drift": r"""
            -- checks.chi2_categorical twin: expected = current total
            -- at base proportions (epsilon-floored), squared term by
            -- self-multiplication (portable, no pow)
            WITH base AS (
                SELECT COALESCE(CAST(o_orderpriority AS VARCHAR), '__null__')
                           AS category
                FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
            ), curr AS (
                SELECT COALESCE(CAST(o_orderpriority AS VARCHAR), '__null__')
                           AS category
                FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
            ), nb AS (
                SELECT category, COUNT(*) AS n_base FROM base GROUP BY 1
            ), nc AS (
                SELECT category, COUNT(*) AS n_curr FROM curr GROUP BY 1
            ), j AS (
                SELECT category,
                       COALESCE(n_base, 0) AS n_base,
                       COALESCE(n_curr, 0) AS n_curr
                FROM nb FULL OUTER JOIN nc USING (category)
            ), t AS (
                SELECT CAST(SUM(n_base) AS DOUBLE) AS tb,
                       CAST(SUM(n_curr) AS DOUBLE) AS tc FROM j
            )
            SELECT category,
                   CAST(n_base AS BIGINT) AS n_base,
                   CAST(n_curr AS BIGINT) AS n_curr,
                   ROUND(tc * GREATEST(n_base / tb, 1e-4) + 1e-9, 6)
                       AS expected,
                   ROUND((n_curr - tc * GREATEST(n_base / tb, 1e-4))
                         * (n_curr - tc * GREATEST(n_base / tb, 1e-4))
                         / (tc * GREATEST(n_base / tb, 1e-4)) + 1e-9, 6)
                       AS chi2_term
            FROM j, t ORDER BY category
        """,
        "embedding_outliers": r"""
            -- similarity.embedding_outliers twin: per-dim means via a
            -- dims cross join (the Spark side computes the same 64
            -- means in one agg pass), ordered distance fold, z on the
            -- 1-row scale, outlier flag on the ROUNDED z
            WITH e AS (
                SELECT vec_id,
                       list_transform(embedding, x -> x::DOUBLE) AS v
                FROM embeddings
            ), c AS (
                SELECT list(m ORDER BY i) AS centroid FROM (
                    SELECT i, AVG(v[i]) AS m
                    FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
                    GROUP BY i
                )
            ), d AS (
                SELECT vec_id,
                       sqrt(list_sum(list_transform(range(1, 65),
                           i -> (v[i] - centroid[i]) * (v[i] - centroid[i]))))
                           AS dist
                FROM e, c
            ), s AS (
                SELECT AVG(dist) AS mu, STDDEV_SAMP(dist) AS sigma FROM d
            )
            SELECT vec_id,
                   ROUND(dist + 1e-8, 4) AS dist,
                   ROUND(CASE WHEN sigma > 0 THEN (dist - mu) / sigma
                              ELSE 0.0 END + 1e-8, 4) AS z,
                   ROUND(CASE WHEN sigma > 0 THEN (dist - mu) / sigma
                              ELSE 0.0 END + 1e-8, 4) > 3.0 AS is_outlier
            FROM d, s
        """,
        "bm25_search": r"""
            -- text.bm25_topk twin: same normalized_words tokenization
            -- as the tfidf twin, Okapi idf ln(1 + (N-df+.5)/(df+.5)),
            -- k1=1.2 b=0.75 folded to the same literal arithmetic
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text),
                                                      '[^\p{L}\p{N}]+'),
                                   x -> x <> '') AS words
                FROM documents
            ), d AS (
                SELECT doc_id, CAST(len(words) AS DOUBLE) AS dl, words
                FROM w
            ), stats AS (
                SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                       AVG(dl) AS avgdl
                FROM d
            ), t AS (
                SELECT doc_id, dl, unnest(words) AS term FROM d
            ), tf AS (
                SELECT doc_id, term,
                       CAST(COUNT(*) AS DOUBLE) AS tf,
                       ANY_VALUE(dl) AS dl
                FROM t WHERE term IN ('merge', 'spark', 'window')
                GROUP BY doc_id, term
            ), dfq AS (
                SELECT term, CAST(COUNT(*) AS DOUBLE) AS df
                FROM tf GROUP BY term
            )
            SELECT doc_id,
                   ROUND(SUM(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                             * (tf * 2.2
                                / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))))
                         + 1e-9, 6) AS bm25,
                   CAST(COUNT(*) AS BIGINT) AS n_terms_matched
            FROM tf JOIN dfq USING (term) CROSS JOIN stats
            GROUP BY doc_id
            ORDER BY bm25 DESC, doc_id ASC LIMIT 10
        """,
        "hybrid_search": rf"""
            -- similarity.rrf_fuse twin: the bm25_search twin at k=20 +
            -- the similarity_topk twin at k=20 (both ranked on ROUNDED
            -- scores with id tie-break, exactly as the Spark query),
            -- fused with 1/(60 + rank) and re-ranked
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text),
                                                      '[^\p{{L}}\p{{N}}]+'),
                                   x -> x <> '') AS words
                FROM documents
            ), d AS (
                SELECT doc_id, CAST(len(words) AS DOUBLE) AS dl, words
                FROM w
            ), stats AS (
                SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                       AVG(dl) AS avgdl
                FROM d
            ), t AS (
                SELECT doc_id, dl, unnest(words) AS term FROM d
            ), tf AS (
                SELECT doc_id, term,
                       CAST(COUNT(*) AS DOUBLE) AS tf,
                       ANY_VALUE(dl) AS dl
                FROM t WHERE term IN ('merge', 'spark', 'window')
                GROUP BY doc_id, term
            ), dfq AS (
                SELECT term, CAST(COUNT(*) AS DOUBLE) AS df
                FROM tf GROUP BY term
            ), lex AS (
                SELECT doc_id,
                       ROUND(SUM(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                                 * (tf * 2.2
                                    / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))))
                             + 1e-9, 6) AS bm25
                FROM tf JOIN dfq USING (term) CROSS JOIN stats
                GROUP BY doc_id
                ORDER BY bm25 DESC, doc_id ASC LIMIT 20
            ), lexr AS (
                SELECT doc_id,
                       ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS r
                FROM lex
            ), qv AS (SELECT {{vec}} AS q), vtop AS (
                SELECT vec_id AS doc_id,
                       ROUND(({{cos}}) + 1e-8, 4) AS cosine
                FROM embeddings, qv
                ORDER BY ROUND(({{cos}}) + 1e-8, 4) DESC, vec_id ASC LIMIT 20
            ), vr AS (
                SELECT doc_id,
                       ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id ASC) AS r
                FROM vtop
            ), u AS (
                SELECT doc_id, r FROM lexr UNION ALL SELECT doc_id, r FROM vr
            )
            SELECT doc_id,
                   ROUND(SUM(1.0 / (60.0 + r)) + 1e-9, 6) AS rrf_score,
                   CAST(COUNT(*) AS BIGINT) AS n_lists
            FROM u GROUP BY doc_id
            ORDER BY rrf_score DESC, doc_id ASC LIMIT 10
        """.replace("{vec}", vec).replace("{cos}", cos),
        "gap_fill_daily": r"""
            -- timeseries.gap_fill twin: per-key [min,max] day spine via
            -- generate_series, LEFT JOIN the aggregated series, forward
            -- fill with last_value IGNORE NULLS; n_rows=0 marks holes
            WITH series AS (
                SELECT user_id, event_type,
                       date_trunc('day', ts) AS bucket,
                       COUNT(*) AS n_rows, SUM(value) AS value
                FROM events WHERE ts IS NOT NULL
                GROUP BY 1, 2, 3
            ), span AS (
                SELECT user_id, event_type,
                       MIN(bucket) AS mn, MAX(bucket) AS mx
                FROM series GROUP BY 1, 2
            ), spine AS (
                SELECT user_id, event_type,
                       unnest(generate_series(mn, mx, INTERVAL 1 DAY))
                           AS bucket
                FROM span
            ), j AS (
                SELECT s.user_id, s.event_type, s.bucket,
                       COALESCE(se.n_rows, 0) AS n_rows, se.value
                FROM spine s
                LEFT JOIN series se USING (user_id, event_type, bucket)
            )
            SELECT user_id, event_type,
                   CAST(bucket AS DATE) AS day,
                   CAST(n_rows AS BIGINT) AS n_rows,
                   ROUND(COALESCE(value,
                       last_value(value IGNORE NULLS) OVER (
                           PARTITION BY user_id, event_type
                           ORDER BY bucket)) + 1e-8, 4) AS value
            FROM j ORDER BY user_id, event_type, day
        """,
        "rolling_features": r"""
            -- timeseries.gap_fill(zero) -> rolling_features twin: the
            -- identical spine, then a named 7-row trailing window; the
            -- frame is calendar-correct BECAUSE the spine is contiguous
            WITH series AS (
                SELECT user_id, event_type,
                       date_trunc('day', ts) AS bucket,
                       COUNT(*) AS n_rows, SUM(value) AS value
                FROM events WHERE ts IS NOT NULL
                GROUP BY 1, 2, 3
            ), span AS (
                SELECT user_id, event_type,
                       MIN(bucket) AS mn, MAX(bucket) AS mx
                FROM series GROUP BY 1, 2
            ), spine AS (
                SELECT user_id, event_type,
                       unnest(generate_series(mn, mx, INTERVAL 1 DAY))
                           AS bucket
                FROM span
            ), j AS (
                SELECT s.user_id, s.event_type, s.bucket,
                       COALESCE(se.n_rows, 0) AS n_rows,
                       COALESCE(se.value, 0.0) AS value
                FROM spine s
                LEFT JOIN series se USING (user_id, event_type, bucket)
            )
            SELECT user_id, event_type,
                   CAST(bucket AS DATE) AS day,
                   CAST(n_rows AS BIGINT) AS n_rows,
                   ROUND(AVG(value) OVER w + 1e-8, 4) AS avg_7d,
                   ROUND(SUM(value) OVER w + 1e-8, 4) AS sum_7d
            FROM j
            WINDOW w AS (PARTITION BY user_id, event_type ORDER BY bucket
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
            ORDER BY user_id, event_type, day
        """,
        "winsorize_prices": r"""
            -- features.winsorize twin: quantile_cont IS the linear-
            -- interpolated percentile Spark's exact `percentile` uses;
            -- clip = LEAST/GREATEST against the two broadcast cuts
            WITH q AS (
                SELECT quantile_cont(l_extendedprice, 0.01) AS lo,
                       quantile_cont(l_extendedprice, 0.99) AS hi
                FROM lineitem
            )
            SELECT l_orderkey, l_linenumber,
                   ROUND(LEAST(GREATEST(l_extendedprice, lo), hi) + 1e-8, 4)
                       AS price_w
            FROM lineitem, q
        """,
        "freq_encode_priority": r"""
            -- features.frequency_encode twin: per-category counts and
            -- target means + 1-row global stats; target_enc is the
            -- m-estimate shrink (n_t*mean + m*gmean)/(n_t + m), m = 10,
            -- with n_t = NON-NULL target count (the evidence weight)
            WITH g AS (
                SELECT CAST(COUNT(*) AS DOUBLE) AS total,
                       AVG(o_totalprice) AS gmean
                FROM orders
            ), c AS (
                SELECT COALESCE(CAST(o_orderpriority AS VARCHAR), '__null__')
                           AS category,
                       COUNT(*) AS n,
                       CAST(COUNT(o_totalprice) AS DOUBLE) AS nt,
                       AVG(o_totalprice) AS mean
                FROM orders GROUP BY 1
            )
            SELECT category, CAST(n AS BIGINT) AS n,
                   ROUND(n / total + 1e-9, 6) AS freq,
                   ROUND(mean + 1e-9, 6) AS target_mean,
                   ROUND((nt * COALESCE(mean, 0.0) + 10.0 * gmean)
                         / (nt + 10.0) + 1e-9, 6) AS target_enc
            FROM c, g ORDER BY category
        """,
        "compression_signal": """
            -- bounded-oracle twin (approx_distinct convention): the
            -- zlib byte count is engine-specific, but its envelope is
            -- mathematical — the exact oracle projection is n_bytes
            -- (UTF-8 octets) plus constants TRUE for positivity, the
            -- deflate worst-case bound, and shrink-on-long-text, which
            -- the Spark side must reproduce from the REAL deflate output
            SELECT doc_id,
                   CAST(strlen(COALESCE(text, '')) AS BIGINT) AS n_bytes,
                   TRUE AS positive,
                   TRUE AS within_deflate_bound,
                   TRUE AS shrinks_long_doc
            FROM documents
        """,
        "char_entropy": r"""
            -- text.char_entropy twin: identical higher-order pipeline
            -- (truncate -> split to chars -> distinct -> count-per-char
            -- -> -sum p log2 p); round-4 absorbs fold-order float noise
            WITH c AS (
                SELECT doc_id,
                       list_filter(
                           string_split(
                               substr(COALESCE(text, ''), 1, 20000), ''),
                           x -> x <> '') AS chars
                FROM documents
            ), h AS (
                SELECT doc_id, chars, len(chars) AS n,
                       list_distinct(chars) AS dchars
                FROM c
            )
            SELECT doc_id,
                   CAST(n AS BIGINT) AS n_chars,
                   CAST(len(dchars) AS BIGINT) AS n_distinct_chars,
                   CASE WHEN n > 0 THEN ROUND(
                       -list_sum(list_transform(dchars, c ->
                           (len(list_filter(chars, x -> x = c))
                                / CAST(n AS DOUBLE))
                           * log2(len(list_filter(chars, x -> x = c))
                                / CAST(n AS DOUBLE))))
                       + 1e-9, 4)
                   ELSE 0.0 END AS entropy
            FROM h ORDER BY doc_id
        """,
        "script_profile": r"""
            -- text.script_profile twin: RE2 \p{Latin} == Java
            -- \p{IsLatin} on these classes; explicit whitespace class
            -- (Java \s and RE2 \s disagree on vertical tab); fractions
            -- are exact integer ratios, rounding cosmetic
            WITH b AS (
                SELECT doc_id, substr(COALESCE(text, ''), 1, 20000) AS t
                FROM documents
            ), c AS (
                SELECT doc_id,
                       length(t) - len(regexp_extract_all(t, '[ \t\n\r\f]'))
                           AS n,
                       len(regexp_extract_all(t, '\p{Latin}')) AS lat,
                       len(regexp_extract_all(t, '\p{Cyrillic}')) AS cyr,
                       len(regexp_extract_all(t, '\p{Han}')) AS han,
                       len(regexp_extract_all(t, '\p{Arabic}')) AS ara,
                       len(regexp_extract_all(t, '\p{Devanagari}')) AS dev,
                       len(regexp_extract_all(t, '[0-9]')) AS dig
                FROM b
            ), d AS (
                SELECT *, CAST(GREATEST(n, 1) AS DOUBLE) AS nd,
                       GREATEST(lat, cyr, han, ara, dev) AS top
                FROM c
            )
            SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
                   ROUND(lat / nd + 1e-9, 4) AS latin_frac,
                   ROUND(cyr / nd + 1e-9, 4) AS cyrillic_frac,
                   ROUND(han / nd + 1e-9, 4) AS han_frac,
                   ROUND(ara / nd + 1e-9, 4) AS arabic_frac,
                   ROUND(dev / nd + 1e-9, 4) AS devanagari_frac,
                   ROUND(dig / nd + 1e-9, 4) AS digit_frac,
                   ROUND((n - lat - cyr - han - ara - dev - dig) / nd
                         + 1e-9, 4) AS other_frac,
                   CASE WHEN lat > 0 AND lat = top THEN 'latin'
                        WHEN cyr > 0 AND cyr = top THEN 'cyrillic'
                        WHEN han > 0 AND han = top THEN 'han'
                        WHEN ara > 0 AND ara = top THEN 'arabic'
                        WHEN dev > 0 AND dev = top THEN 'devanagari'
                        ELSE 'none' END AS dominant_script,
                   (lat + cyr + han + ara + dev - top) / nd > 0.15
                       AS is_mixed
            FROM d ORDER BY doc_id
        """,
        "leakage_safe_split": rf"""
            -- leakage-safe split: the certified dup_components closure
            -- (nested verbatim) labels each paired doc; singletons key
            -- by their own id; md5('split:' || label) digit-rebuilt to
            -- the same 32-bit fraction and cumulative boundaries the
            -- Spark hash_split contract uses
            WITH comp AS (SELECT * FROM ({_dup_components_sql()})),
            g AS (
                SELECT e.vec_id,
                       COALESCE(c.component, e.vec_id) AS grp
                FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.node
            ), h8 AS (
                SELECT vec_id,
                       md5('split:' || CAST(grp AS VARCHAR)) AS h
                FROM g
            ), f AS (
                SELECT vec_id,
                       ({" + ".join(f"(strpos('0123456789abcdef', substr(h, {d + 1}, 1)) - 1) * {16 ** (7 - d)}" for d in range(8))})
                           / 4294967296.0 AS frac
                FROM h8
            )
            SELECT CAST(vec_id AS BIGINT) AS vec_id,
                   CASE WHEN frac < {0.9!r} THEN 'train'
                        WHEN frac < {0.9 + 0.05!r} THEN 'val'
                        ELSE 'test' END AS split
            FROM f
        """,
        "dup_cluster_sizes": rf"""
            -- cluster-size histogram over the certified dup_components
            -- closure (nested verbatim); singleton docs never pair, so
            -- every cluster here has size >= 2
            WITH comp AS (SELECT * FROM ({_dup_components_sql()})),
            s AS (
                SELECT component, COUNT(*) AS sz FROM comp GROUP BY 1
            )
            SELECT CAST(sz AS BIGINT) AS cluster_size,
                   CAST(COUNT(*) AS BIGINT) AS n_clusters
            FROM s GROUP BY 1 ORDER BY 1
        """,
        "expectations": """
            -- mirrors quality.expectations.expect: one conditional
            -- count per rule over one scan, stacked as rule rows
            WITH a AS (
                SELECT
                    SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS v0,
                    SUM(CASE WHEN l_orderkey IS NOT NULL
                              AND l_linenumber IS NOT NULL THEN 1 ELSE 0 END)
                      - COUNT(DISTINCT CASE WHEN l_orderkey IS NOT NULL
                              AND l_linenumber IS NOT NULL
                              THEN ROW(l_orderkey, l_linenumber) END) AS v1,
                    SUM(CASE WHEN l_discount IS NOT NULL
                              AND (l_discount < 0.0 OR l_discount > 1.0)
                             THEN 1 ELSE 0 END) AS v2,
                    SUM(CASE WHEN l_returnflag IS NOT NULL
                              AND l_returnflag NOT IN ('A', 'N', 'R')
                             THEN 1 ELSE 0 END) AS v3,
                    SUM(CASE WHEN l_linestatus IS NOT NULL
                              AND NOT regexp_matches(l_linestatus, '^[OF]$')
                             THEN 1 ELSE 0 END) AS v4,
                    SUM(CASE WHEN NOT COALESCE(l_quantity >= 0, FALSE)
                             THEN 1 ELSE 0 END) AS v5
                FROM lineitem
            )
            SELECT 'not_null' AS rule, 'l_orderkey' AS "column",
                   CAST(v0 AS BIGINT) AS n_violations, v0 = 0 AS passed FROM a
            UNION ALL SELECT 'unique', 'l_orderkey,l_linenumber',
                   CAST(v1 AS BIGINT), v1 = 0 FROM a
            UNION ALL SELECT 'in_range', 'l_discount',
                   CAST(v2 AS BIGINT), v2 = 0 FROM a
            UNION ALL SELECT 'accepted_values', 'l_returnflag',
                   CAST(v3 AS BIGINT), v3 = 0 FROM a
            UNION ALL SELECT 'matches_regex', 'l_linestatus',
                   CAST(v4 AS BIGINT), v4 = 0 FROM a
            UNION ALL SELECT 'expression', 'non_negative_quantity',
                   CAST(v5 AS BIGINT), v5 = 0 FROM a
        """,
        "key_skew": """
            -- mirrors skew.key_skew_profile on l_suppkey
            WITH per_key AS (
                SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_rows
                FROM lineitem GROUP BY 1
            ), tot AS (
                SELECT SUM(n_rows) AS total_rows, COUNT(*) AS n_groups
                FROM per_key
            )
            SELECT l_suppkey, n_rows,
                   ROUND(n_rows / CAST(total_rows AS DOUBLE) + 1e-9, 6) AS row_share,
                   ROUND(n_rows / CAST(total_rows AS DOUBLE) * n_groups + 1e-9, 4)
                       AS skew_factor
            FROM per_key, tot
            ORDER BY n_rows DESC, l_suppkey ASC
            LIMIT 10
        """,
        "fuzzy_match": """
            -- mirrors linkage.fuzzy_join: 15-char lowercased prefix
            -- block, |len| band, levenshtein verify (same algorithm in
            -- both engines: plain edit distance)
            WITH l AS (
                SELECT c_custkey AS dirty_id,
                       substring(c_name, 1, length(c_name) - 1) AS dirty_name
                FROM customer WHERE c_custkey % 20 = 0
            ), r AS (
                SELECT c_custkey AS cand_id, c_name AS cand_name FROM customer
            )
            SELECT dirty_id, cand_id,
                   CAST(levenshtein(dirty_name, cand_name) AS INT) AS distance
            FROM l JOIN r
              ON lower(substring(dirty_name, 1, 15)) = lower(substring(cand_name, 1, 15))
             AND abs(length(dirty_name) - length(cand_name)) <= 1
            WHERE levenshtein(dirty_name, cand_name) <= 1
        """,
        "line_dedup": """
            -- mirrors dedup.line_dedup at word granularity: trimmed
            -- token doc-frequencies, fractional threshold vs the
            -- corpus count, positional reassembly of survivors
            WITH x AS (
                SELECT doc_id, pr.pos AS pos, pr.raw AS raw, trim(pr.raw) AS line
                FROM (
                    SELECT doc_id,
                           unnest([{'pos': i, 'raw': ws[i+1]}
                                   for i in range(0, len(ws))]) AS pr
                    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
                )
            ), f AS (
                SELECT line, COUNT(DISTINCT doc_id) AS n FROM x
                WHERE line <> '' GROUP BY 1
            ), tot AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM documents),
            b AS (SELECT line FROM f, tot WHERE n >= 0.78 * nd),
            kept AS (
                SELECT x.* FROM x
                WHERE x.line = '' OR x.line NOT IN (SELECT line FROM b)
            ), reb AS (
                SELECT doc_id, string_agg(raw, ' ' ORDER BY pos) AS clean_text,
                       COUNT(*) AS nk
                FROM kept GROUP BY doc_id
            ), t AS (SELECT doc_id, COUNT(*) AS ntot FROM x GROUP BY doc_id)
            SELECT t.doc_id,
                   COALESCE(reb.clean_text, '') AS clean_text,
                   CAST(COALESCE(reb.nk, 0) AS BIGINT) AS n_lines_kept,
                   CAST(t.ntot - COALESCE(reb.nk, 0) AS BIGINT) AS n_lines_dropped
            FROM t LEFT JOIN reb USING (doc_id)
        """,
        "supplier_wait": """
            -- Q21-shaped: sole late shipper on multi-supplier 'F' orders
            WITH per_os AS (
                SELECT l_orderkey, l_suppkey,
                       MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                                THEN 1 ELSE 0 END) AS is_late
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                WHERE o_orderstatus = 'F'
                GROUP BY 1, 2
            ), per_o AS (
                SELECT l_orderkey, COUNT(*) AS n_supp, SUM(is_late) AS n_late
                FROM per_os GROUP BY 1
            )
            SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
            FROM per_os
            JOIN per_o USING (l_orderkey)
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE per_os.is_late = 1 AND per_o.n_supp >= 2 AND per_o.n_late = 1
            GROUP BY s_name
            ORDER BY numwait DESC, s_name ASC
            LIMIT 10
        """,
        "market_share": """
            -- Q8-shaped: NATION_2's supplier-side share of ASIA-customer
            -- order revenue per year
            SELECT CAST(year(o_orderdate) AS INT) AS order_year,
                   ROUND(SUM(CASE WHEN sn.n_name = 'NATION_2'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0.0 END)
                         / SUM(l_extendedprice * (1 - l_discount)) + 1e-9, 4)
                       AS mkt_share,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)) + 1e-6, 2)
                       AS total_revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation cn ON c_nationkey = cn.n_nationkey
            JOIN region   ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            GROUP BY 1
        """,
        "anomaly_zscore": """
            -- per-user z-score outliers (population stddev, 1.7 sigma)
            WITH s AS (
                SELECT event_id, user_id, value,
                       AVG(value) OVER (PARTITION BY user_id) AS mu,
                       STDDEV_POP(value) OVER (PARTITION BY user_id) AS sd,
                       COUNT(*) OVER (PARTITION BY user_id) AS n
                FROM events
            )
            SELECT event_id, user_id,
                   ROUND(value + 1e-9, 2) AS value,
                   ROUND((value - mu) / sd + 1e-9, 4) AS zscore
            FROM s
            WHERE n >= 30 AND sd > 0 AND abs((value - mu) / sd) > 1.7
        """,
        "daily_sales_summary": f"""
            SELECT CAST(o_orderdate AS DATE) AS sale_date,
                   CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS total_orders,
                   ROUND((SUM(l_extendedprice * (1 - l_discount))) + 1e-6, 2) AS total_revenue,
                   ROUND((SUM(l_quantity)) + 1e-6, 2) AS total_quantity,
                   ROUND((SUM(l_extendedprice * (1 - l_discount)) / COUNT(DISTINCT o_orderkey)) + 1e-6, 2)
                       AS avg_order_value
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1
        """,
        "approx_distinct": """
            SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
                   TRUE AS within_rsd
            FROM events
        """,
        "incremental_distinct": """
            SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
                   CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
                   TRUE AS within_rsd
            FROM orders
            GROUP BY 1
            ORDER BY 1
        """,
        "table_stats": """
            SELECT CAST(COUNT(*) AS BIGINT) AS total_rows,
                   CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS unique_keys,
                   MIN(o_orderdate) AS earliest,
                   MAX(o_orderdate) AS latest
            FROM orders
        """,
        "conditional_agg": f"""
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   ROUND((SUM(value)) + 1e-6, 2) AS total_value,
                   CAST(SUM(CASE WHEN ts >= TIMESTAMP '{EVENTS_CUTOFF}' THEN 1 ELSE 0 END) AS BIGINT)
                       AS recent_events
            FROM events GROUP BY event_type
        """,
        "multi_table_summary": """
            SELECT 'region' AS table_name, CAST(COUNT(*) AS BIGINT) AS records FROM region
            UNION ALL SELECT 'nation', CAST(COUNT(*) AS BIGINT) FROM nation
            UNION ALL SELECT 'customer', CAST(COUNT(*) AS BIGINT) FROM customer
            UNION ALL SELECT 'supplier', CAST(COUNT(*) AS BIGINT) FROM supplier
            UNION ALL SELECT 'part', CAST(COUNT(*) AS BIGINT) FROM part
            UNION ALL SELECT 'orders', CAST(COUNT(*) AS BIGINT) FROM orders
            UNION ALL SELECT 'lineitem', CAST(COUNT(*) AS BIGINT) FROM lineitem
            UNION ALL SELECT 'events', CAST(COUNT(*) AS BIGINT) FROM events
            UNION ALL SELECT 'documents', CAST(COUNT(*) AS BIGINT) FROM documents
            UNION ALL SELECT 'embeddings', CAST(COUNT(*) AS BIGINT) FROM embeddings
        """,
        "quality_gate": """
            WITH counts AS (
                SELECT COUNT(*) AS records FROM region
                UNION ALL SELECT COUNT(*) FROM nation
                UNION ALL SELECT COUNT(*) FROM customer
                UNION ALL SELECT COUNT(*) FROM supplier
                UNION ALL SELECT COUNT(*) FROM part
                UNION ALL SELECT COUNT(*) FROM orders
                UNION ALL SELECT COUNT(*) FROM lineitem
                UNION ALL SELECT COUNT(*) FROM events
                UNION ALL SELECT COUNT(*) FROM documents
                UNION ALL SELECT COUNT(*) FROM embeddings
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS total_tables,
                   CAST(SUM(CASE WHEN records > 0 THEN 1 ELSE 0 END) AS BIGINT) AS tables_with_data,
                   CAST(SUM(records) AS BIGINT) AS total_records,
                   ROUND((SUM(CASE WHEN records > 0 THEN 1 ELSE 0 END) * 100.0 / COUNT(*)) + 1e-6, 2)
                       AS quality_score,
                   SUM(CASE WHEN records > 0 THEN 1 ELSE 0 END) >= 5 AS passed
            FROM counts
        """,
        "flatten_invariants": """
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS raw_orders,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS raw_items,
                   (SELECT CAST(COUNT(DISTINCT o_orderkey) AS BIGINT)
                      FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey) AS flat_orders,
                   (SELECT CAST(SUM(CASE WHEN l_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                      FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey) AS flat_items,
                   (SELECT COUNT(DISTINCT o_orderkey)
                      FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey)
                     = (SELECT COUNT(*) FROM orders) AS orders_preserved,
                   (SELECT SUM(CASE WHEN l_orderkey IS NOT NULL THEN 1 ELSE 0 END)
                      FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey)
                     = (SELECT COUNT(*) FROM lineitem) AS items_preserved
        """,
        "flatten_explode": """
            SELECT o_orderkey, o_orderstatus,
                   l_linenumber AS linenumber,
                   l_quantity AS quantity,
                   l_extendedprice AS extendedprice
            FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
        """,
        "derived_columns": """
            SELECT l_orderkey,
                   CAST(COUNT(*) AS BIGINT) AS total_items_in_order,
                   COUNT(*) > 1 AS has_multiple_items,
                   ROUND((SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax))) + 1e-6, 2) AS total_charge
            FROM lineitem GROUP BY l_orderkey
        """,
        "safe_cast": """
            SELECT event_id,
                   TRY_CAST(event_type AS INTEGER) AS bad_int,
                   TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int
            FROM events
        """,
        "string_funcs": """
            SELECT o_orderkey,
                   substr(o_orderpriority, 1, 3) AS prio3,
                   o_orderstatus || '-' || o_orderpriority AS status_prio,
                   CAST(epoch(o_orderdate) AS BIGINT) AS order_epoch_s
            FROM orders
        """,
        "lookback_filter": f"""
            SELECT event_id, ts, user_id, event_type, value
            FROM events
            WHERE ts IS NULL OR ts >= TIMESTAMP '{EVENTS_CUTOFF}'
        """,
        "time_range_filter": f"""
            SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
            FROM lineitem
            WHERE l_shipdate BETWEEN TIMESTAMP '{SHIP_START} 00:00:00'
                                 AND TIMESTAMP '{SHIP_END} 00:00:00'
        """,
        "status_filter": """
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
            FROM orders WHERE o_orderstatus = 'F'
        """,
        "retention_filter": f"""
            SELECT event_id, ts, user_id FROM events
            WHERE ts >= TIMESTAMP '{EVENTS_RETENTION_CUTOFF}'
        """,
        "negative_count": """
            SELECT CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT) AS negative_rows
            FROM events
        """,
        "latest_by_key": """
            SELECT user_id, event_id, ts, event_type
            FROM events
            QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
        """,
        "merge_stats": f"""
            WITH incoming AS (SELECT DISTINCT user_id FROM events
                              WHERE ts >= TIMESTAMP '{EVENTS_CUTOFF}'),
                 existing AS (SELECT DISTINCT user_id FROM events
                              WHERE ts < TIMESTAMP '{EVENTS_CUTOFF}')
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM incoming
                     WHERE user_id IN (SELECT user_id FROM existing)) AS updated,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM incoming
                     WHERE user_id NOT IN (SELECT user_id FROM existing)) AS inserted
        """,
        "anti_join_new_keys": """
            SELECT event_id, user_id, event_type
            FROM events e
            WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
              AND NOT EXISTS (SELECT 1 FROM events o
                              WHERE o.ts < TIMESTAMP '2024-01-05 00:00:00'
                                AND o.user_id = e.user_id
                                AND o.event_type = e.event_type)
        """,
        "dim_enrichment_join": """
            SELECT r_name AS region_name,
                   CAST(COUNT(*) AS BIGINT) AS customers,
                   ROUND((SUM(c_acctbal)) + 1e-6, 2) AS total_acctbal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "topk_orders": """
            SELECT o_orderkey, o_custkey, o_totalprice
            FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
        """,
        "window_rank": """
            SELECT o_custkey, o_orderkey, o_totalprice,
                   CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                        ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rn
            FROM orders
            QUALIFY rn <= 3
        """,
        "union_sources": """
            SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus = 'O'
            UNION ALL
            SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus = 'F'
        """,
        "tumbling_window": """
            SELECT date_trunc('hour', ts) AS window_start,
                   event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   ROUND((SUM(value)) + 1e-6, 2) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "pricing_summary": PRICING_SUMMARY_SQL,
        "shipping_priority": SHIPPING_PRIORITY_SQL,
        "region_volume": REGION_VOLUME_SQL,
        "json_construct": """
            SELECT event_id,
                   CAST(to_json(struct_pack(user_id := user_id, event_type := event_type))
                        AS VARCHAR) AS payload_json
            FROM events
        """,
        "rollup_sales": """
            SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
                   o_orderstatus,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   ROUND((SUM(o_totalprice)) + 1e-6, 2) AS revenue
            FROM orders
            GROUP BY ROLLUP (year(o_orderdate), o_orderstatus)
        """,
        "date_parts": """
            SELECT o_orderkey,
                   CAST(year(o_orderdate) AS BIGINT) AS order_year,
                   CAST(quarter(o_orderdate) AS BIGINT) AS order_quarter,
                   CAST(month(o_orderdate) AS BIGINT) AS order_month,
                   CAST(day(o_orderdate) AS BIGINT) AS order_day,
                   CAST(date_diff('day', o_orderdate, TIMESTAMP '2002-01-01 00:00:00') AS BIGINT)
                       AS days_to_2002
            FROM orders
        """,
        "value_buckets": """
            SELECT CASE WHEN value < 10 THEN 'small'
                        WHEN value < 100 THEN 'medium'
                        ELSE 'large' END AS value_bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   ROUND((AVG(value)) + 1e-6, 2) AS avg_value
            FROM events
            GROUP BY 1
            HAVING COUNT(*) > 10
        """,
        "exact_dedup": """
            SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
            FROM documents
            QUALIFY ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id ASC) = 1
        """,
        "token_counts": """
            SELECT doc_id,
                   CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
                        AS BIGINT) AS n_tokens
            FROM documents
        """,
        "doc_length_stats": """
            SELECT lang,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   ROUND((AVG(n_chars)) + 1e-6, 2) AS avg_chars,
                   CAST(MIN(n_chars) AS BIGINT) AS min_chars,
                   CAST(MAX(n_chars) AS BIGINT) AS max_chars
            FROM documents GROUP BY lang
        """,
        "similarity_topk": f"""
            WITH qv AS (SELECT {vec} AS q)
            SELECT vec_id, ROUND(({cos}) + 1e-8, 4) AS cosine
            FROM embeddings, qv
            ORDER BY {cos} DESC, vec_id ASC LIMIT 10
        """,
        "similarity_threshold": f"""
            WITH qv AS (SELECT {vec} AS q)
            SELECT vec_id, ROUND(({cos}) + 1e-8, 4) AS cosine
            FROM embeddings, qv
            WHERE {cos} >= 0.2
        """,
        "doc_fingerprint": r"""
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                   x -> x <> '') AS words
                FROM documents
            )
            SELECT doc_id,
                   md5(array_to_string(words, ' ')) AS fp_content,
                   list_aggregate(
                       [md5(array_to_string(list_slice(words, i, i + 4), ' '))
                        for i in range(1, greatest(len(words) - 4, 1) + 1)],
                       'min') AS fp_rolling_min
            FROM w
        """,
        "embedding_near_dups": f"""
            -- banded hyperplane-LSH twin: identical deterministic plane
            -- literals, signatures on the RAW vector (sign of ordered
            -- dot), candidates = pairs sharing any band signature, then
            -- the same scale-then-ordered-dot verification as Spark
            WITH e AS (
                SELECT vec_id, embedding,
                       list_transform(embedding,
                           x -> x::DOUBLE * (1.0 / sqrt(list_sum(
                               list_transform(embedding, y -> y::DOUBLE * y::DOUBLE)))))
                           AS sv
                FROM embeddings
                WHERE list_sum(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE)) > 0
            ), p(band, bitval, plane) AS (
                VALUES {_hyperplane_values_sql(6, 4, 64)}
            ), s AS (
                SELECT e.vec_id, p.band,
                       SUM(CASE WHEN list_sum(list_transform(range(1, 65),
                                   i -> e.embedding[i]::DOUBLE * p.plane[i])) > 0
                                THEN p.bitval ELSE 0 END) AS sig
                FROM e CROSS JOIN p
                GROUP BY e.vec_id, p.band
            ), c AS (
                SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                FROM s a JOIN s b
                  ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
            )
            SELECT id_a, id_b, ROUND(d + 1e-8, 4) AS cosine FROM (
                SELECT c.id_a, c.id_b,
                       list_sum(list_transform(range(1, 65), i -> ea.sv[i] * eb.sv[i])) AS d
                FROM c
                JOIN e ea ON ea.vec_id = c.id_a
                JOIN e eb ON eb.vec_id = c.id_b
            ) WHERE d >= 0.4
        """,
        "embedding_dedup_delta": f"""
            -- embedding_dedup_delta twin: odd vec_ids the batch, even
            -- the persisted state. Same plane literals and signature
            -- math as embedding_near_dups; a batch vector loses to ANY
            -- verified (cosine >= 0.4) history match and to any
            -- smaller-id verified batch match; zero-norm vectors are
            -- never candidates and pass through
            WITH e AS (
                SELECT vec_id, embedding,
                       list_transform(embedding,
                           x -> x::DOUBLE * (1.0 / sqrt(list_sum(
                               list_transform(embedding, y -> y::DOUBLE * y::DOUBLE)))))
                           AS sv
                FROM embeddings
                WHERE list_sum(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE)) > 0
            ), p(band, bitval, plane) AS (
                VALUES {_hyperplane_values_sql(6, 4, 64)}
            ), s AS (
                SELECT e.vec_id, p.band,
                       SUM(CASE WHEN list_sum(list_transform(range(1, 65),
                                   i -> e.embedding[i]::DOUBLE * p.plane[i])) > 0
                                THEN p.bitval ELSE 0 END) AS sig
                FROM e CROSS JOIN p
                GROUP BY e.vec_id, p.band
            ), cand AS (
                SELECT a.vec_id AS loser, b.vec_id AS other
                FROM s a JOIN s b ON a.band = b.band AND a.sig = b.sig
                WHERE a.vec_id % 2 = 1 AND b.vec_id % 2 = 0
                UNION
                SELECT b.vec_id AS loser, a.vec_id AS other
                FROM s a JOIN s b ON a.band = b.band AND a.sig = b.sig
                WHERE a.vec_id % 2 = 1 AND b.vec_id % 2 = 1
                  AND a.vec_id < b.vec_id
            ), v AS (
                SELECT cand.loser,
                       list_sum(list_transform(range(1, 65),
                           i -> ea.sv[i] * eb.sv[i])) AS d
                FROM cand
                JOIN e ea ON ea.vec_id = cand.loser
                JOIN e eb ON eb.vec_id = cand.other
            ), losers AS (
                SELECT DISTINCT loser FROM v WHERE d >= 0.4
            )
            SELECT vec_id FROM embeddings
            WHERE vec_id % 2 = 1
              AND vec_id NOT IN (SELECT loser FROM losers)
        """,
        "embedding_near_dups_exact": """
            -- mirrors the Spark op order exactly: scale each element by
            -- 1/norm per vector first, then a plain ordered dot product
            WITH e AS (
                SELECT vec_id,
                       list_transform(embedding,
                           x -> x::DOUBLE * (1.0 / sqrt(list_sum(
                               list_transform(embedding, y -> y::DOUBLE * y::DOUBLE)))))
                           AS sv
                FROM embeddings
                WHERE list_sum(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE)) > 0
            )
            SELECT id_a, id_b, ROUND(c + 1e-8, 4) AS cosine FROM (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       list_sum(list_transform(range(1, 65), i -> a.sv[i] * b.sv[i])) AS c
                FROM e a JOIN e b ON a.vec_id < b.vec_id
            ) WHERE c >= 0.4
        """,
        "cycle_metrics": """
            WITH m AS (
                SELECT CAST(ts AS DATE) AS d,
                       MAX(ts) AS started_at,
                       CAST(floor(epoch(MAX(ts))) - floor(epoch(MIN(ts))) AS DOUBLE)
                           AS duration_seconds,
                       CAST(COUNT(*) AS BIGINT) AS records_processed,
                       SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) * 5 < COUNT(*)
                           AS success
                FROM events GROUP BY 1
            ), r AS (
                SELECT *, ROW_NUMBER() OVER (ORDER BY started_at DESC, CAST(d AS VARCHAR) DESC) AS rn
                FROM m
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS cycles,
                   ROUND(AVG(duration_seconds), 3) AS avg_duration_seconds,
                   CAST(SUM(records_processed) AS BIGINT) AS total_records,
                   ROUND(SUM(CASE WHEN success THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 2)
                       AS success_rate_pct
            FROM r WHERE rn <= 10
        """,
        "chunk_documents": r"""
            -- mirrors text.chunk_documents: whitespace tokens, stride
            -- 56 = 64 - 8, ceil((n-8)/56.0) chunks (min 1), slice windows
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
                FROM documents
            ), c AS (
                SELECT doc_id, t,
                       unnest(range(0, greatest(
                           CAST(ceil((len(t) - 8) / 56.0) AS INT), 1))) AS chunk_id
                FROM w WHERE len(t) > 0
            )
            SELECT doc_id,
                   CAST(chunk_id AS INT) AS chunk_id,
                   array_to_string(list_slice(t, chunk_id * 56 + 1, chunk_id * 56 + 64), ' ')
                       AS chunk_text,
                   CAST(len(list_slice(t, chunk_id * 56 + 1, chunk_id * 56 + 64)) AS BIGINT)
                       AS n_tokens
            FROM c
        """,
        "pii_redaction": _pii_oracle_sql(),
        "repetition_stats": r"""
            -- mirrors text.repetition_stats: non-empty lines for the
            -- dup fraction, word bigrams counted per doc for the top
            -- fraction; integer counts, one division, same rounding
            WITH l AS (
                SELECT doc_id,
                       list_filter(string_split(text, chr(10)), x -> x <> '') AS lines
                FROM documents
            ), base AS (
                SELECT doc_id,
                       CASE WHEN len(lines) > 0
                            THEN 1.0 - len(list_distinct(lines)) / CAST(len(lines) AS DOUBLE)
                       END AS dup_line_frac
                FROM l
            ), w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                   x -> x <> '') AS words
                FROM documents
            ), g AS (
                SELECT doc_id,
                       unnest([words[i] || ' ' || words[i + 1]
                               for i in range(1, greatest(len(words), 1))]) AS gram
                FROM w WHERE len(words) >= 2
            ), c AS (
                SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2
            ), t AS (
                SELECT doc_id, MAX(cnt) AS top, SUM(cnt) AS total FROM c GROUP BY 1
            )
            SELECT base.doc_id,
                   ROUND(base.dup_line_frac + 1e-9, 4) AS dup_line_frac,
                   ROUND(CAST(t.top AS DOUBLE) / t.total + 1e-9, 4) AS top_bigram_frac
            FROM base LEFT JOIN t ON t.doc_id = base.doc_id
        """,
        "column_profile": """
            -- mirrors quality.checks.column_profile: one row per column,
            -- exact interpolated quartiles (quantile_cont == percentile)
            SELECT 'o_orderkey' AS column_name,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                   CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
                   MIN(CAST(o_orderkey AS DOUBLE)) AS min_value,
                   MAX(CAST(o_orderkey AS DOUBLE)) AS max_value,
                   ROUND(quantile_cont(CAST(o_orderkey AS DOUBLE), 0.25) + 1e-9, 4) AS p25,
                   ROUND(quantile_cont(CAST(o_orderkey AS DOUBLE), 0.5) + 1e-9, 4) AS p50,
                   ROUND(quantile_cont(CAST(o_orderkey AS DOUBLE), 0.75) + 1e-9, 4) AS p75
            FROM orders
            UNION ALL
            SELECT 'o_totalprice',
                   CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
                   MIN(CAST(o_totalprice AS DOUBLE)),
                   MAX(CAST(o_totalprice AS DOUBLE)),
                   ROUND(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.25) + 1e-9, 4),
                   ROUND(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5) + 1e-9, 4),
                   ROUND(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.75) + 1e-9, 4)
            FROM orders
            UNION ALL
            SELECT 'o_orderstatus',
                   CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
            FROM orders
        """,
        "column_profile_approx": """
            -- the exact column_profile stats with the HLL estimate
            -- replaced by its rsd-margin envelope [1, n_rows*1.15]
            -- (trivially TRUE for the exact count; the margin absorbs
            -- HLL ~5% rsd overestimates on near-unique columns — the cross-engine-stable
            -- projection of an engine-specific estimate)
            SELECT 'o_orderkey' AS column_name,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                   COUNT(DISTINCT o_orderkey) BETWEEN 1 AND CAST(COUNT(*) * 1.15 AS BIGINT) AS n_distinct_bounded,
                   MIN(CAST(o_orderkey AS DOUBLE)) AS min_value,
                   MAX(CAST(o_orderkey AS DOUBLE)) AS max_value,
                   ROUND(quantile_cont(CAST(o_orderkey AS DOUBLE), 0.25) + 1e-9, 4) AS p25,
                   ROUND(quantile_cont(CAST(o_orderkey AS DOUBLE), 0.5) + 1e-9, 4) AS p50,
                   ROUND(quantile_cont(CAST(o_orderkey AS DOUBLE), 0.75) + 1e-9, 4) AS p75
            FROM orders
            UNION ALL
            SELECT 'o_totalprice',
                   CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   COUNT(DISTINCT o_totalprice) BETWEEN 1 AND CAST(COUNT(*) * 1.15 AS BIGINT),
                   MIN(CAST(o_totalprice AS DOUBLE)),
                   MAX(CAST(o_totalprice AS DOUBLE)),
                   ROUND(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.25) + 1e-9, 4),
                   ROUND(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5) + 1e-9, 4),
                   ROUND(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.75) + 1e-9, 4)
            FROM orders
            UNION ALL
            SELECT 'o_orderstatus',
                   CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   COUNT(DISTINCT o_orderstatus) BETWEEN 1 AND CAST(COUNT(*) * 1.15 AS BIGINT),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
            FROM orders
        """,
        "column_profile_tdigest": """
            -- fully-approx profile twin: counts and min/max exact; the
            -- HLL count and GK-sketch quartiles are engine-specific, so
            -- they are certified through constants-TRUE envelopes
            -- (ordered, within [min, max]); NULL envelopes on the
            -- non-numeric column, mirroring the Spark NULL propagation
            SELECT 'o_orderkey' AS column_name,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                   COUNT(DISTINCT o_orderkey) BETWEEN 1 AND CAST(COUNT(*) * 1.15 AS BIGINT) AS n_distinct_bounded,
                   MIN(CAST(o_orderkey AS DOUBLE)) AS min_value,
                   MAX(CAST(o_orderkey AS DOUBLE)) AS max_value,
                   TRUE AS quartiles_ordered,
                   TRUE AS quartiles_in_range
            FROM orders
            UNION ALL
            SELECT 'o_totalprice',
                   CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   COUNT(DISTINCT o_totalprice) BETWEEN 1 AND CAST(COUNT(*) * 1.15 AS BIGINT),
                   MIN(CAST(o_totalprice AS DOUBLE)),
                   MAX(CAST(o_totalprice AS DOUBLE)),
                   TRUE, TRUE
            FROM orders
            UNION ALL
            SELECT 'o_orderstatus',
                   CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   COUNT(DISTINCT o_orderstatus) BETWEEN 1 AND CAST(COUNT(*) * 1.15 AS BIGINT),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   CAST(NULL AS BOOLEAN), CAST(NULL AS BOOLEAN)
            FROM orders
        """,
        "dataset_split": _split_oracle_sql(),
        "sample_per_group": """
            -- mirrors sampling.sample_per_group: md5-rank within lang,
            -- doc_id tiebreak, k=20
            SELECT doc_id, lang FROM (
                SELECT doc_id, lang,
                       ROW_NUMBER() OVER (
                           PARTITION BY lang
                           ORDER BY md5('sample:' || CAST(doc_id AS VARCHAR)) ASC,
                                    doc_id ASC) AS rn
                FROM documents
            ) WHERE rn <= 20
        """,
        "schedule_health": """
            -- mirrors monitor.production_health: daily cycles from
            -- events, last-5 start intervals on whole unix seconds
            -- (/60 once after averaging), last-10 success rate,
            -- 5-table integrity, 20/30/20/20/10 rubric in the same
            -- literal term order as the Spark expression
            WITH m AS (
                SELECT CAST(ts AS DATE) AS d,
                       MAX(ts) AS started_at,
                       SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) * 5
                           < COUNT(*) AS success
                FROM events GROUP BY 1
            ), r AS (
                SELECT *, ROW_NUMBER() OVER (ORDER BY started_at DESC, CAST(d AS VARCHAR) DESC) AS rn
                FROM m
            ), summ AS (
                SELECT ROUND(SUM(CASE WHEN success THEN 1 ELSE 0 END) * 100.0
                             / COUNT(*), 2) AS success_rate_pct
                FROM r WHERE rn <= 10
            ), iv AS (
                SELECT floor(epoch(started_at))
                       - floor(epoch(LAG(started_at) OVER (
                             ORDER BY started_at ASC, CAST(d AS VARCHAR) ASC)))
                       AS iv_s
                FROM r WHERE rn <= 5
                QUALIFY iv_s IS NOT NULL
            ), sched AS (
                SELECT COUNT(*) AS n, AVG(iv_s) AS avg_s FROM iv
            ), integ AS (
                SELECT SUM(CASE WHEN c > 0 THEN 1 ELSE 0 END) / COUNT(*) * 100.0
                       AS data_integrity_score
                FROM (SELECT COUNT(*) AS c FROM orders
                      UNION ALL SELECT COUNT(*) FROM lineitem
                      UNION ALL SELECT COUNT(*) FROM customer
                      UNION ALL SELECT COUNT(*) FROM documents
                      UNION ALL SELECT COUNT(*) FROM embeddings) t
            ), parts AS (
                SELECT summ.success_rate_pct,
                       ROUND(sched.avg_s / 60.0 + 1e-6, 2) AS actual_avg_interval_minutes,
                       CASE WHEN sched.n > 0
                            THEN abs(sched.avg_s / 60.0 - 1440.0) / 1440.0 * 100.0 < 5.0
                       END AS schedule_accurate,
                       integ.data_integrity_score
                FROM summ, sched, integ
            )
            SELECT success_rate_pct,
                   actual_avg_interval_minutes,
                   schedule_accurate,
                   ROUND(data_integrity_score + 1e-6, 2) AS data_integrity_score,
                   ROUND((20.0
                          + coalesce(success_rate_pct, 0) / 100.0 * 30.0
                          + CASE WHEN schedule_accurate THEN 20.0 ELSE 0.0 END
                          + CASE WHEN data_integrity_score >= 80.0 THEN 20.0 ELSE 0.0 END
                          + 10.0) + 1e-6, 2) AS health_score,
                   CASE WHEN ROUND((20.0
                          + coalesce(success_rate_pct, 0) / 100.0 * 30.0
                          + CASE WHEN schedule_accurate THEN 20.0 ELSE 0.0 END
                          + CASE WHEN data_integrity_score >= 80.0 THEN 20.0 ELSE 0.0 END
                          + 10.0) + 1e-6, 2) >= 90 THEN 'excellent'
                        WHEN ROUND((20.0
                          + coalesce(success_rate_pct, 0) / 100.0 * 30.0
                          + CASE WHEN schedule_accurate THEN 20.0 ELSE 0.0 END
                          + CASE WHEN data_integrity_score >= 80.0 THEN 20.0 ELSE 0.0 END
                          + 10.0) + 1e-6, 2) >= 80 THEN 'good'
                        WHEN ROUND((20.0
                          + coalesce(success_rate_pct, 0) / 100.0 * 30.0
                          + CASE WHEN schedule_accurate THEN 20.0 ELSE 0.0 END
                          + CASE WHEN data_integrity_score >= 80.0 THEN 20.0 ELSE 0.0 END
                          + 10.0) + 1e-6, 2) >= 70 THEN 'warning'
                        ELSE 'critical' END AS health_band
            FROM parts
        """,
        "video_frame_sample": """
            SELECT doc_id AS media_id,
                   CAST(f AS BIGINT) AS frame_index,
                   f / 24.0 AS frame_ts_s
            FROM documents, UNNEST(generate_series(0, (n_chars % 300 + 1) - 1, 30)) AS t(f)
        """,
        "language_id": rf"""
            -- mirrors text.detect_language: argmax of stopword-hit
            -- ratio (same denominator per doc, so ordering is exact);
            -- array_max struct tie-break = max lang string, hence
            -- ORDER BY score DESC, cand DESC
            WITH w AS (
                SELECT doc_id, lang,
                       list_filter(string_split_regex(lower(text), '[^\p{{L}}\p{{N}}]+'),
                                   x -> x <> '') AS words
                FROM documents
            ), s AS (
                SELECT w.doc_id, w.lang, l.cand,
                       len(list_filter(w.words, x -> list_contains(l.sw, x)))
                           / greatest(len(w.words), 1) AS score
                FROM w, (VALUES {_stopwords_values_sql()}) AS l(cand, sw)
            ), r AS (
                SELECT *,
                       ROW_NUMBER() OVER (PARTITION BY doc_id
                                          ORDER BY score DESC, cand DESC) AS rn,
                       MAX(score) OVER (PARTITION BY doc_id) AS mx
                FROM s
            )
            SELECT lang,
                   CASE WHEN mx > 0 THEN cand ELSE 'und' END AS detected_lang,
                   CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM r WHERE rn = 1
            GROUP BY 1, 2
        """,
        "multimodal_features": """
            -- bounded-oracle twin: PNG byte length and RNG pixels are
            -- build artifacts, but their envelopes are mathematical and
            -- decode_mode='real' is the EXACT claim that the genuine
            -- stdlib decoder ran on every payload
            SELECT doc_id AS media_id,
                   TRUE AS payload_nonempty,
                   TRUE AS mean_pixel_in_envelope,
                   CAST(16 AS INTEGER) AS feature_dim,
                   'real' AS decode_mode
            FROM documents
        """,
        "audio_signal_features": """
            -- bounded-oracle twin: stdlib WAV container is exactly
            -- 44 header bytes + 2 bytes/sample (1600 samples), RMS of a
            -- 0.5-amplitude sine is 0.35355 (envelope generous),
            -- duration n/sr = 0.2 exact; decode_mode='real' is the
            -- exact decoded-for-real claim
            SELECT doc_id AS media_id,
                   CAST(3244 AS BIGINT) AS n_bytes,
                   TRUE AS rms_in_envelope,
                   ROUND(0.2 + 1e-8, 4) AS duration_s,
                   CAST(16 AS INTEGER) AS feature_dim,
                   'real' AS decode_mode
            FROM documents
        """,
        "quality_scores": rf"""
            -- mirrors text.quality_score term by term (all inputs are
            -- per-doc integers, ops in identical order -> exact doubles)
            WITH w AS (
                SELECT doc_id, text,
                       list_filter(string_split_regex(lower(text), '[^\p{{L}}\p{{N}}]+'),
                                   x -> x <> '') AS words
                FROM documents
            ), t AS (
                SELECT doc_id,
                       least(len(words) / 50.0, 1.0) AS len_score,
                       greatest(0.0, 1.0 -
                           (len(regexp_extract_all(text, '[^\p{{L}}\p{{N}} \t\n\v\f\r]'))
                            / greatest(length(text), 1)) * 4) AS punct_score,
                       least((len(list_filter(words,
                                  x -> list_contains([{_stopwords_en_sql()}], x)))
                              / greatest(len(words), 1)) * 4, 1.0) AS sw_score,
                       len(list_distinct(words)) / greatest(len(words), 1) AS diversity
                FROM w
            )
            SELECT doc_id,
                   ROUND((((len_score + punct_score) + sw_score) + diversity) / 4 + 1e-8, 4)
                       AS quality_score
            FROM t
        """,
        "ngram_jaccard_dedup": r"""
            -- mirrors dedup.ngram_jaccard_dedup: distinct 3-gram
            -- shingles, posting-list self-join, jaccard from counts
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                   x -> x <> '') AS words
                FROM documents
            ), g AS (
                SELECT doc_id, unnest(list_distinct(
                    list_filter([array_to_string(list_slice(words, i, i + 2), ' ')
                                 for i in range(1, greatest(len(words) - 2, 1) + 1)],
                                x -> x <> ''))) AS sh
                FROM w
            ), sz AS (
                SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id
            ), shared AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
                FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ), losers AS (
                SELECT DISTINCT id_b FROM shared
                JOIN sz sa ON sa.doc_id = id_a
                JOIN sz sb ON sb.doc_id = id_b
                WHERE c / (sa.n + sb.n - c) >= 0.8
            )
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT id_b FROM losers)
        """,
        "knn_join_lsh": f"""
            -- identical banded blocking (4 planes x 4 bands, same
            -- deterministic plane literals) + the same cosine op order
            -- and (cosine desc, neighbor asc) ranking as Spark
            WITH p(band, bitval, plane) AS (
                VALUES {_hyperplane_values_sql(4, 4, 64)}
            ), s AS (
                SELECT e.vec_id, p.band,
                       SUM(CASE WHEN list_sum(list_transform(range(1, 65),
                                   i -> e.embedding[i]::DOUBLE * p.plane[i])) > 0
                                THEN p.bitval ELSE 0 END) AS sig
                FROM embeddings e CROSS JOIN p
                GROUP BY e.vec_id, p.band
            ), cand AS (
                SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
                FROM s a JOIN s b ON a.band = b.band AND a.sig = b.sig
                WHERE a.vec_id < 5
            ), sc AS (
                SELECT c.query_id, c.neighbor_id,
                       list_sum(list_transform(range(1, 65),
                           i -> q.embedding[i]::DOUBLE * n.embedding[i]::DOUBLE))
                       / (sqrt(list_sum(list_transform(q.embedding,
                              x -> x::DOUBLE * x::DOUBLE)))
                          * sqrt(list_sum(list_transform(n.embedding,
                              x -> x::DOUBLE * x::DOUBLE)))) AS cosine
                FROM cand c
                JOIN embeddings q ON q.vec_id = c.query_id
                JOIN embeddings n ON n.vec_id = c.neighbor_id
            )
            SELECT query_id, neighbor_id, ROUND(cosine + 1e-8, 4) AS cosine FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id ASC) AS rn
                FROM sc WHERE cosine IS NOT NULL
            ) WHERE rn <= 3
        """,
        "minhash_dedup_portable": f"""
            -- full minhash pipeline under the portable md5 family:
            -- 3-gram shingles -> 16 lane minima -> 4 band keys ->
            -- bucket-local candidates -> distinct-shingle jaccard >= 0.8
            -- -> drop higher id. Same stages, same values as Spark.
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '[^\\p{{L}}\\p{{N}}]+'),
                                   x -> x <> '') AS words
                FROM documents
            ), g AS (
                SELECT doc_id, unnest(list_distinct(
                    list_filter([array_to_string(list_slice(words, i, i + 2), ' ')
                                 for i in range(1, greatest(len(words) - 2, 1) + 1)],
                                x -> x <> ''))) AS sh
                FROM w
            ), lanes AS (
                SELECT doc_id,
                   {_minhash_lanes_sql(16)}
                FROM g GROUP BY doc_id
            ), bands AS (
                {_minhash_bands_sql(16, 4)}
            ), cand AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM bands a JOIN bands b
                  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
            ), sz AS (
                SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id
            ), shared AS (
                SELECT cand.id_a, cand.id_b, COUNT(*) AS c
                FROM cand
                JOIN g ga ON ga.doc_id = cand.id_a
                JOIN g gb ON gb.doc_id = cand.id_b AND gb.sh = ga.sh
                GROUP BY 1, 2
            ), losers AS (
                SELECT DISTINCT id_b FROM shared
                JOIN sz sa ON sa.doc_id = id_a
                JOIN sz sb ON sb.doc_id = id_b
                WHERE c / (sa.n + sb.n - c) >= 0.8
            )
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT id_b FROM losers)
        """,
        "cross_corpus_dedup": f"""
            -- minhash_cross_corpus_pairs twin under the portable md5
            -- family: same lanes/bands as minhash_dedup_portable, but
            -- candidates come from a bucket join of the ODD side's
            -- bands against the EVEN side's — no self-join; verified
            -- exact distinct-shingle Jaccard >= 0.8
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '[^\\p{{L}}\\p{{N}}]+'),
                                   x -> x <> '') AS words
                FROM documents
            ), g AS (
                SELECT doc_id, unnest(list_distinct(
                    list_filter([array_to_string(list_slice(words, i, i + 2), ' ')
                                 for i in range(1, greatest(len(words) - 2, 1) + 1)],
                                x -> x <> ''))) AS sh
                FROM w
            ), lanes AS (
                SELECT doc_id,
                   {_minhash_lanes_sql(16)}
                FROM g GROUP BY doc_id
            ), bands AS (
                {_minhash_bands_sql(16, 4)}
            ), cand AS (
                SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
                FROM bands a JOIN bands b
                  ON a.band = b.band AND a.key = b.key
                WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
            ), sz AS (
                SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id
            ), shared AS (
                SELECT cand.left_id, cand.right_id, COUNT(*) AS c
                FROM cand
                JOIN g ga ON ga.doc_id = cand.left_id
                JOIN g gb ON gb.doc_id = cand.right_id AND gb.sh = ga.sh
                GROUP BY 1, 2
            )
            SELECT shared.left_id, shared.right_id,
                   ROUND(c / (sa.n + sb.n - c) + 1e-9, 6) AS jaccard
            FROM shared
            JOIN sz sa ON sa.doc_id = left_id
            JOIN sz sb ON sb.doc_id = right_id
            WHERE c / (sa.n + sb.n - c) >= 0.8
            ORDER BY left_id, right_id
        """,
        "minhash_dedup_delta": f"""
            -- minhash_dedup_delta twin: odd docs are the batch, even
            -- docs the persisted corpus state. A batch doc loses to
            -- ANY verified (Jaccard >= 0.8) history match, and to any
            -- SMALLER-id verified batch match (the whole-batch
            -- internal sweep); survivors are everything else
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '[^\\p{{L}}\\p{{N}}]+'),
                                   x -> x <> '') AS words
                FROM documents
            ), g AS (
                SELECT doc_id, unnest(list_distinct(
                    list_filter([array_to_string(list_slice(words, i, i + 2), ' ')
                                 for i in range(1, greatest(len(words) - 2, 1) + 1)],
                                x -> x <> ''))) AS sh
                FROM w
            ), lanes AS (
                SELECT doc_id,
                   {_minhash_lanes_sql(16)}
                FROM g GROUP BY doc_id
            ), bands AS (
                {_minhash_bands_sql(16, 4)}
            ), cand AS (
                SELECT a.doc_id AS loser, b.doc_id AS other
                FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
                WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
                UNION
                SELECT b.doc_id AS loser, a.doc_id AS other
                FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
                WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 1
                  AND a.doc_id < b.doc_id
            ), sz AS (
                SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id
            ), shared AS (
                SELECT cand.loser, cand.other, COUNT(*) AS c
                FROM cand
                JOIN g ga ON ga.doc_id = cand.loser
                JOIN g gb ON gb.doc_id = cand.other AND gb.sh = ga.sh
                GROUP BY 1, 2
            ), losers AS (
                SELECT DISTINCT loser FROM shared
                JOIN sz sa ON sa.doc_id = loser
                JOIN sz sb ON sb.doc_id = other
                WHERE c / (sa.n + sb.n - c) >= 0.8
            )
            SELECT doc_id FROM documents
            WHERE doc_id % 2 = 1
              AND doc_id NOT IN (SELECT loser FROM losers)
        """,
        "rolling_psi_drift": """
            -- quality.checks.rolling_psi_drift twin: whole-window
            -- 10-quantile edges (quantile_cont == Spark percentile),
            -- strict-> boundary bucketing, dense days x bins scaffold,
            -- calendar day-1 inner join, epsilon-floored PSI terms
            WITH v AS (
                SELECT CAST(ts AS DATE) AS day, value::DOUBLE AS v
                FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
            ), b AS (
                SELECT quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs
                FROM v
            ), c AS (
                SELECT day,
                       CAST(len(list_filter(bs, e -> v > e)) AS INT) AS bin,
                       COUNT(*) AS n
                FROM v CROSS JOIN b GROUP BY 1, 2
            ), days AS (
                SELECT DISTINCT day FROM c
            ), hist AS (
                SELECT days.day, r.bin, COALESCE(c.n, 0) AS n
                FROM days
                CROSS JOIN (SELECT CAST(UNNEST(range(10)) AS INT) AS bin) r
                LEFT JOIN c ON c.day = days.day AND c.bin = r.bin
            ), pair AS (
                SELECT cur.day AS day, cur.bin,
                       prv.n AS n_prev, cur.n AS n_curr
                FROM hist cur JOIN hist prv
                  ON prv.day + 1 = cur.day AND prv.bin = cur.bin
            ), t AS (
                SELECT day, n_prev, n_curr,
                       GREATEST(n_prev / SUM(n_prev) OVER (PARTITION BY day), 1e-4) AS pp,
                       GREATEST(n_curr / SUM(n_curr) OVER (PARTITION BY day), 1e-4) AS pc
                FROM pair
            ), agg AS (
                SELECT day,
                       CAST(SUM(n_prev) AS BIGINT) AS n_prev,
                       CAST(SUM(n_curr) AS BIGINT) AS n_curr,
                       ROUND(SUM((pc - pp) * ln(pc / pp)) + 1e-12, 6) AS psi
                FROM t GROUP BY day
            )
            SELECT day, n_prev, n_curr, psi,
                   psi > 0.25 AS shifted,
                   psi > 0.1 AND psi <= 0.25 AS drifting
            FROM agg
        """,
        "hist_state_append": """
            -- quality.checks.hist_state twin (round 10): bootstrap
            -- 10-quantile edges (quantile_cont == Spark percentile)
            -- pinned from days <= 2024-01-15, strict-> bucketing of
            -- the 2024-01-20 batch, grouped counts
            WITH bv AS (
                SELECT value::DOUBLE AS v FROM events
                WHERE CAST(ts AS DATE) <= DATE '2024-01-15'
                  AND value IS NOT NULL
            ), b AS (
                SELECT quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs
                FROM bv
            ), batch AS (
                SELECT CAST(ts AS DATE) AS day, value::DOUBLE AS v
                FROM events
                WHERE CAST(ts AS DATE) = DATE '2024-01-20'
                  AND value IS NOT NULL
            )
            SELECT day,
                   CAST(len(list_filter(bs, e -> v > e)) AS INT) AS bin,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM batch CROSS JOIN b
            GROUP BY 1, 2
            ORDER BY day, bin
        """,
        "profile_state_append": """
            -- quality.checks.profile_state twin (round 10): per-day
            -- mergeable moments of the 2024-01-20 batch — value gets
            -- real sums/squares/min/max, event_type real counts and
            -- NULL moments; sums rounded at 2 (summation-order margin)
            WITH batch AS (
                SELECT CAST(ts AS DATE) AS day, value, event_type
                FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-20'
            ), v AS (
                SELECT day, 'value' AS column_name,
                       CAST(COUNT(*) AS BIGINT) AS n_rows,
                       CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                       ROUND(SUM(value::DOUBLE) + 1e-9, 2) AS sum_v,
                       ROUND(SUM(value::DOUBLE * value::DOUBLE) + 1e-9, 2) AS sum_sq,
                       ROUND(MIN(value::DOUBLE) + 1e-9, 2) AS min_v,
                       ROUND(MAX(value::DOUBLE) + 1e-9, 2) AS max_v
                FROM batch GROUP BY day
            ), e AS (
                SELECT day, 'event_type' AS column_name,
                       CAST(COUNT(*) AS BIGINT) AS n_rows,
                       CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                       CAST(NULL AS DOUBLE) AS sum_v,
                       CAST(NULL AS DOUBLE) AS sum_sq,
                       CAST(NULL AS DOUBLE) AS min_v,
                       CAST(NULL AS DOUBLE) AS max_v
                FROM batch GROUP BY day
            )
            SELECT * FROM v UNION ALL SELECT * FROM e
            ORDER BY day, column_name
        """,
        "incremental_profile": """
            -- quality.checks.profile_from_state twin (round 10): the
            -- merged global profile with std from the SAME raw-moment
            -- formula the operator uses (not stddev_samp), so both
            -- engines round the identical number
            WITH m AS (
                SELECT 'value' AS column_name,
                       CAST(COUNT(*) AS BIGINT) AS n_rows,
                       CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                       SUM(value::DOUBLE) AS s,
                       SUM(value::DOUBLE * value::DOUBLE) AS q,
                       MIN(value::DOUBLE) AS mn,
                       MAX(value::DOUBLE) AS mx,
                       COUNT(value)::DOUBLE AS n
                FROM events WHERE ts IS NOT NULL
                UNION ALL
                SELECT 'event_type',
                       CAST(COUNT(*) AS BIGINT),
                       CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                       NULL, NULL, NULL, NULL,
                       COUNT(event_type)::DOUBLE
                FROM events WHERE ts IS NOT NULL
            )
            SELECT column_name, n_rows, n_null,
                   CASE WHEN n = 0 THEN NULL
                        ELSE ROUND(s / n + 1e-9, 4) END AS mean,
                   -- DuckDB's GREATEST skips NULLs like Spark's, so
                   -- the NULL-moment guard must be explicit here too
                   CASE WHEN q IS NULL OR n <= 1 THEN NULL
                        ELSE ROUND(sqrt(GREATEST((q - s * s / n) / (n - 1), 0.0)) + 1e-9, 4) END AS std,
                   ROUND(mn + 1e-9, 4) AS min_value,
                   ROUND(mx + 1e-9, 4) AS max_value
            FROM m ORDER BY column_name
        """,
        "hist_edges_drift": """
            -- quality.checks.hist_edges_drift twin (round 11): per-day
            -- share of mass in the two open-end terminal bins of the
            -- bootstrap-pinned 10-bin edge family, flagged past 0.4
            WITH bv AS (
                SELECT value::DOUBLE AS v FROM events
                WHERE CAST(ts AS DATE) <= DATE '2024-01-15'
                  AND value IS NOT NULL
            ), b AS (
                SELECT quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs
                FROM bv
            ), v AS (
                SELECT CAST(ts AS DATE) AS day, value::DOUBLE AS v
                FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
            ), c AS (
                SELECT day,
                       CAST(len(list_filter(bs, e -> v > e)) AS INT) AS bin,
                       COUNT(*) AS n
                FROM v CROSS JOIN b GROUP BY 1, 2
            ), d AS (
                SELECT day,
                       CAST(SUM(n) AS BIGINT) AS n_total,
                       CAST(SUM(CASE WHEN bin IN (0, 9) THEN n ELSE 0 END) AS BIGINT) AS n_edge
                FROM c GROUP BY day
            )
            SELECT day, n_total, n_edge,
                   ROUND(n_edge::DOUBLE / n_total + 1e-9, 6) AS edge_share,
                   (n_edge::DOUBLE / n_total) > 0.4 AS re_bootstrap
            FROM d ORDER BY day
        """,
        "hist_percentiles": """
            -- quality.checks.quantiles_from_hist_state twin (round
            -- 11), bounded oracle: identical state arithmetic (same
            -- cumulative fractions and interpolation expression,
            -- quantile_cont == Spark percentile for the edges) PLUS
            -- the containment bound of the exact discrete quantile
            -- (1-based index ceil(q*n) of the sorted values) inside
            -- the picked bin's edge interval
            WITH bv AS (
                SELECT value::DOUBLE AS v FROM events
                WHERE CAST(ts AS DATE) <= DATE '2024-01-15'
                  AND value IS NOT NULL
            ), b AS (
                SELECT quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs
                FROM bv
            ), v AS (
                SELECT value::DOUBLE AS v
                FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
            ), c AS (
                SELECT CAST(len(list_filter(bs, e -> v > e)) AS INT) AS bin,
                       COUNT(*)::DOUBLE AS n
                FROM v CROSS JOIN b GROUP BY 1
            ), cum0 AS (
                SELECT bin,
                       SUM(n) OVER (ORDER BY bin) / SUM(n) OVER () AS cf
                FROM c
            ), cum AS (
                SELECT bin, cf,
                       COALESCE(LAG(cf) OVER (ORDER BY bin), 0.0) AS pcf
                FROM cum0
            ), qs AS (
                SELECT UNNEST([0.1, 0.5, 0.9]) AS q
            ), pick AS (
                SELECT q, MIN(bin) AS bin
                FROM qs JOIN cum ON cum.cf >= qs.q GROUP BY q
            ), pe AS (
                SELECT p.q, p.bin, cum.cf, cum.pcf, b.bs,
                       CASE WHEN p.bin >= 1 THEN b.bs[p.bin] END AS lo,
                       CASE WHEN p.bin <= 8 THEN b.bs[p.bin + 1] END AS hi
                FROM pick p JOIN cum ON cum.bin = p.bin CROSS JOIN b
            ), est AS (
                SELECT q, bin, lo, hi,
                       CASE WHEN bin = 0 THEN hi
                            WHEN bin = 9 THEN lo
                            ELSE lo + (hi - lo) * (q - pcf) / (cf - pcf)
                       END AS estimate
                FROM pe
            ), n1 AS (
                SELECT COUNT(*)::BIGINT AS n FROM v
            ), ranked AS (
                SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn FROM v
            ), ex AS (
                SELECT q, r.v AS exact
                FROM qs CROSS JOIN n1
                -- robust rank, mirroring the Spark side: round the
                -- double product to 9 decimals before CEIL so an
                -- integral q*n can't overshoot by FP dust
                JOIN ranked r
                  ON r.rn = GREATEST(1, CAST(CEIL(ROUND(q * n, 9)) AS BIGINT))
            )
            -- the containment bound compares the RAW doubles (rounding
            -- can collapse a strict inequality to equality); displayed
            -- columns round at 6 like the Spark side
            SELECT e.q, CAST(e.bin AS INT) AS bin,
                   ROUND(e.lo + 1e-9, 6) AS lo_edge,
                   ROUND(e.hi + 1e-9, 6) AS hi_edge,
                   ROUND(e.estimate + 1e-9, 6) AS estimate,
                   ROUND(ex.exact + 1e-9, 6) AS exact_disc,
                   ((e.lo IS NULL OR ex.exact > e.lo)
                    AND (e.hi IS NULL OR ex.exact <= e.hi)) AS in_bin
            FROM est e JOIN ex ON ex.q = e.q
            ORDER BY e.q
        """,
        "hist_rebin_stitch": """
            -- quality.checks.rebin_hist_state + stitched_psi twin
            -- (round 12): day-over-day PSI stitched across the edge-
            -- family seam at 2024-01-20 — days < seam under the 10-bin
            -- family pinned from the <= 01-15 bootstrap, days >= seam
            -- under the 8-bin family re-bootstrapped on 01-16..19,
            -- the straddling row scored under the NEW family (its
            -- baseline day 01-19 re-binned by the recovery rescan)
            WITH ob AS (
                SELECT quantile_cont(value::DOUBLE,
                    [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs
                FROM events
                WHERE CAST(ts AS DATE) <= DATE '2024-01-15'
                  AND value IS NOT NULL
            ), nb AS (
                SELECT quantile_cont(value::DOUBLE,
                    [0.125,0.25,0.375,0.5,0.625,0.75,0.875]) AS bs
                FROM events
                WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-16'
                                           AND DATE '2024-01-19'
                  AND value IS NOT NULL
            ), v AS (
                SELECT CAST(ts AS DATE) AS day, value::DOUBLE AS v
                FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
            ), oc AS (
                -- old-family counts: the frozen store's window
                SELECT day,
                       CAST(len(list_filter(ob.bs, e -> v > e)) AS INT) AS bin,
                       COUNT(*) AS n
                FROM v CROSS JOIN ob
                WHERE day <= DATE '2024-01-19' GROUP BY 1, 2
            ), nc AS (
                -- new-family counts: the recovery rescan (baseline on)
                SELECT day,
                       CAST(len(list_filter(nb.bs, e -> v > e)) AS INT) AS bin,
                       COUNT(*) AS n
                FROM v CROSS JOIN nb
                WHERE day >= DATE '2024-01-19' GROUP BY 1, 2
            ), oh AS (
                SELECT d.day, r.bin, COALESCE(oc.n, 0) AS n
                FROM (SELECT DISTINCT day FROM oc) d
                CROSS JOIN (SELECT CAST(UNNEST(range(10)) AS INT) AS bin) r
                LEFT JOIN oc ON oc.day = d.day AND oc.bin = r.bin
            ), nh AS (
                SELECT d.day, r.bin, COALESCE(nc.n, 0) AS n
                FROM (SELECT DISTINCT day FROM nc) d
                CROSS JOIN (SELECT CAST(UNNEST(range(8)) AS INT) AS bin) r
                LEFT JOIN nc ON nc.day = d.day AND nc.bin = r.bin
            ), op AS (
                SELECT cur.day, cur.bin, prv.n AS n_prev, cur.n AS n_curr
                FROM oh cur JOIN oh prv
                  ON prv.day + 1 = cur.day AND prv.bin = cur.bin
            ), np AS (
                SELECT cur.day, cur.bin, prv.n AS n_prev, cur.n AS n_curr
                FROM nh cur JOIN nh prv
                  ON prv.day + 1 = cur.day AND prv.bin = cur.bin
            ), ot AS (
                SELECT day, n_prev, n_curr,
                       GREATEST(n_prev / SUM(n_prev) OVER (PARTITION BY day), 1e-4) AS pp,
                       GREATEST(n_curr / SUM(n_curr) OVER (PARTITION BY day), 1e-4) AS pc
                FROM op
            ), nt AS (
                SELECT day, n_prev, n_curr,
                       GREATEST(n_prev / SUM(n_prev) OVER (PARTITION BY day), 1e-4) AS pp,
                       GREATEST(n_curr / SUM(n_curr) OVER (PARTITION BY day), 1e-4) AS pc
                FROM np
            ), stitched AS (
                SELECT day,
                       CAST(SUM(n_prev) AS BIGINT) AS n_prev,
                       CAST(SUM(n_curr) AS BIGINT) AS n_curr,
                       ROUND(SUM((pc - pp) * ln(pc / pp)) + 1e-12, 6) AS psi,
                       'old' AS edge_family
                FROM ot WHERE day < DATE '2024-01-20' GROUP BY day
                UNION ALL
                SELECT day,
                       CAST(SUM(n_prev) AS BIGINT) AS n_prev,
                       CAST(SUM(n_curr) AS BIGINT) AS n_curr,
                       ROUND(SUM((pc - pp) * ln(pc / pp)) + 1e-12, 6) AS psi,
                       'new' AS edge_family
                FROM nt WHERE day >= DATE '2024-01-20' GROUP BY day
            )
            SELECT day, n_prev, n_curr, psi,
                   psi > 0.25 AS shifted,
                   psi > 0.1 AND psi <= 0.25 AS drifting,
                   edge_family
            FROM stitched
            ORDER BY day
        """,
        "hist_percentiles_daily": """
            -- quality.checks.quantiles_from_hist_state(per_day=True)
            -- twin (round 12): the per-(day, q) cumulative-fraction
            -- interpolation over each day's observed state bins under
            -- the bootstrap-pinned 10-bin family
            WITH bv AS (
                SELECT value::DOUBLE AS v FROM events
                WHERE CAST(ts AS DATE) <= DATE '2024-01-15'
                  AND value IS NOT NULL
            ), b AS (
                SELECT quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs
                FROM bv
            ), v AS (
                SELECT CAST(ts AS DATE) AS day, value::DOUBLE AS v
                FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
            ), c AS (
                SELECT day,
                       CAST(len(list_filter(bs, e -> v > e)) AS INT) AS bin,
                       COUNT(*)::DOUBLE AS n
                FROM v CROSS JOIN b GROUP BY 1, 2
            ), cum0 AS (
                SELECT day, bin,
                       SUM(n) OVER (PARTITION BY day ORDER BY bin)
                         / SUM(n) OVER (PARTITION BY day) AS cf
                FROM c
            ), cum AS (
                SELECT day, bin, cf,
                       COALESCE(LAG(cf) OVER (PARTITION BY day ORDER BY bin),
                                0.0) AS pcf
                FROM cum0
            ), qs AS (
                SELECT UNNEST([0.25, 0.5, 0.9]::DOUBLE[]) AS q
            ), pick AS (
                SELECT cum.day, qs.q, MIN(cum.bin) AS bin
                FROM qs JOIN cum ON cum.cf >= qs.q
                GROUP BY cum.day, qs.q
            ), pe AS (
                SELECT p.day, p.q, p.bin, cum.cf, cum.pcf,
                       CASE WHEN p.bin >= 1 THEN b.bs[p.bin] END AS lo,
                       CASE WHEN p.bin <= 8 THEN b.bs[p.bin + 1] END AS hi
                FROM pick p
                JOIN cum ON cum.day = p.day AND cum.bin = p.bin
                CROSS JOIN b
            )
            SELECT day, q, CAST(bin AS INT) AS bin,
                   ROUND(lo + 1e-9, 6) AS lo_edge,
                   ROUND(hi + 1e-9, 6) AS hi_edge,
                   ROUND(CASE WHEN bin = 0 THEN hi
                              WHEN bin = 9 THEN lo
                              ELSE lo + (hi - lo) * (q - pcf) / (cf - pcf)
                         END + 1e-9, 6) AS estimate
            FROM pe
            ORDER BY day, q
        """,
        "psi_state_series": """
            -- quality.checks.psi_from_hist_state twin (round 10):
            -- rolling_psi_drift's tail under BOOTSTRAP-pinned edges
            -- (the store contract) instead of whole-window edges
            WITH bv AS (
                SELECT value::DOUBLE AS v FROM events
                WHERE CAST(ts AS DATE) <= DATE '2024-01-15'
                  AND value IS NOT NULL
            ), b AS (
                SELECT quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs
                FROM bv
            ), v AS (
                SELECT CAST(ts AS DATE) AS day, value::DOUBLE AS v
                FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
            ), c AS (
                SELECT day,
                       CAST(len(list_filter(bs, e -> v > e)) AS INT) AS bin,
                       COUNT(*) AS n
                FROM v CROSS JOIN b GROUP BY 1, 2
            ), days AS (
                SELECT DISTINCT day FROM c
            ), hist AS (
                SELECT days.day, r.bin, COALESCE(c.n, 0) AS n
                FROM days
                CROSS JOIN (SELECT CAST(UNNEST(range(10)) AS INT) AS bin) r
                LEFT JOIN c ON c.day = days.day AND c.bin = r.bin
            ), pair AS (
                SELECT cur.day AS day, cur.bin,
                       prv.n AS n_prev, cur.n AS n_curr
                FROM hist cur JOIN hist prv
                  ON prv.day + 1 = cur.day AND prv.bin = cur.bin
            ), t AS (
                SELECT day, n_prev, n_curr,
                       GREATEST(n_prev / SUM(n_prev) OVER (PARTITION BY day), 1e-4) AS pp,
                       GREATEST(n_curr / SUM(n_curr) OVER (PARTITION BY day), 1e-4) AS pc
                FROM pair
            ), agg AS (
                SELECT day,
                       CAST(SUM(n_prev) AS BIGINT) AS n_prev,
                       CAST(SUM(n_curr) AS BIGINT) AS n_curr,
                       ROUND(SUM((pc - pp) * ln(pc / pp)) + 1e-12, 6) AS psi
                FROM t GROUP BY day
            )
            SELECT day, n_prev, n_curr, psi,
                   psi > 0.25 AS shifted,
                   psi > 0.1 AND psi <= 0.25 AS drifting
            FROM agg
            ORDER BY day
        """,
        "robust_anomaly": """
            -- quality.checks.robust_anomaly twin: per-type median and
            -- MAD (quantile_cont), modified z-score 0.6745*(x-med)/mad,
            -- |score| > 3.5 rows only; mad=0 groups never flag
            WITH b AS (
                SELECT event_id, event_type, value::DOUBLE AS v
                FROM events WHERE value IS NOT NULL
            ), m AS (
                SELECT event_type, quantile_cont(v, 0.5) AS med
                FROM b GROUP BY event_type
            ), d AS (
                -- null-safe group joins throughout, mirroring the
                -- operator's eqNullSafe stats joins (NULL event_type
                -- is a real group and its rows must not vanish)
                SELECT b.event_type, quantile_cont(abs(b.v - m.med), 0.5) AS mad,
                       any_value(m.med) AS med
                FROM b JOIN m
                  ON b.event_type IS NOT DISTINCT FROM m.event_type
                GROUP BY b.event_type
            )
            SELECT b.event_id, b.event_type,
                   ROUND(b.v + 1e-9, 2) AS value,
                   ROUND(0.6745 * (b.v - d.med) / d.mad + 1e-9, 4) AS mod_zscore
            FROM b JOIN d
              ON b.event_type IS NOT DISTINCT FROM d.event_type
            WHERE d.mad > 0
              AND abs(0.6745 * (b.v - d.med) / d.mad) > 3.5
        """,
        "robust_profile": """
            -- quality.checks.robust_profile twin: grouped exact
            -- quartiles (quantile_cont == Spark percentile), then MAD
            -- and Tukey-fence (1.5 IQR) outlier counts off the joined
            -- pass-1 stats; NULL values excluded everywhere
            WITH s AS (
                SELECT event_type, COUNT(value) AS n,
                       quantile_cont(value, 0.25) AS q1x,
                       quantile_cont(value, 0.5)  AS medx,
                       quantile_cont(value, 0.75) AS q3x
                FROM events WHERE value IS NOT NULL GROUP BY event_type
            ), j AS (
                -- null-safe group join (a NULL event_type is a real
                -- group), mirroring the operator's eqNullSafe pass 2
                SELECT e.event_type, e.value, s.n, s.q1x, s.medx, s.q3x
                FROM events e JOIN s
                  ON e.event_type IS NOT DISTINCT FROM s.event_type
                WHERE e.value IS NOT NULL
            ), a AS (
                SELECT event_type,
                       any_value(n) AS n,
                       ROUND(any_value(medx) + 1e-9, 4) AS median,
                       ROUND(any_value(q1x) + 1e-9, 4) AS q1,
                       ROUND(any_value(q3x) + 1e-9, 4) AS q3,
                       ROUND(quantile_cont(abs(value - medx), 0.5) + 1e-9, 4) AS mad,
                       CAST(COUNT(*) FILTER (
                           WHERE value < q1x - 1.5 * (q3x - q1x)
                              OR value > q3x + 1.5 * (q3x - q1x)
                       ) AS BIGINT) AS n_outliers
                FROM j GROUP BY event_type
            )
            SELECT event_type, n, median, q1, q3, mad, n_outliers,
                   ROUND(n_outliers / n + 1e-9, 4) AS outlier_frac
            FROM a
        """,
        "decayed_user_value": """
            -- events.time_decayed_sum twin: weight = 0.5 ** (age_days
            -- / 30) back from the frame's max timestamp; age is the
            -- EXACT integer microsecond diff (== Spark timestamp_diff,
            -- no epoch-double wobble) divided once to fractional days
            WITH m AS (SELECT max(ts) AS ref FROM events)
            SELECT user_id,
                   ROUND(SUM(value * POWER(0.5,
                       date_diff('microsecond', ts, ref)
                       / 86400000000.0 / 30.0)) + 1e-9, 4)
                       AS decayed_value,
                   ROUND(SUM(value) + 1e-9, 4) AS raw_value,
                   COUNT(value) AS n_events,
                   MAX(ts) AS last_ts
            FROM events, m
            GROUP BY user_id
        """,
        "simhash_dedup_portable": f"""
            -- portable 60-bit simhash: md5 hex-nibble bit votes,
            -- integer majority fingerprint, 15-bit block pigeonhole,
            -- hamming <= 3, drop higher id. Bit-identical to Spark.
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '[^\\p{{L}}\\p{{N}}]+'),
                                   x -> x <> '') AS words
                FROM documents
            ), t AS (
                SELECT doc_id, unnest(list_slice(words, 1, 32767)) AS word FROM w
            ), h AS (
                SELECT doc_id, md5(word) AS hx FROM t
            ), hv AS (
                SELECT doc_id,
                   {_simhash_digits_sql()}
                FROM h
            ), v AS (
                SELECT doc_id,
                   {_simhash_votes_sql()}
                FROM hv GROUP BY doc_id
            ), f AS (
                SELECT doc_id, CAST({_simhash_fp_sql()} AS BIGINT) AS fp FROM v
            ), blocks AS (
                SELECT doc_id, fp, q, (fp >> (q * 15)) & 32767 AS blk
                FROM f CROSS JOIN (VALUES (0), (1), (2), (3)) AS qq(q)
            ), losers AS (
                SELECT DISTINCT b.doc_id AS id_b
                FROM blocks a JOIN blocks b
                  ON a.q = b.q AND a.blk = b.blk AND a.doc_id < b.doc_id
                WHERE bit_count(xor(a.fp, b.fp)) <= 3
            )
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT id_b FROM losers)
        """,
        "knn_join": """
            -- mirrors similarity.knn_join_bruteforce: per-pair cosine in
            -- the same op order, rank per query with neighbor_id tiebreak
            WITH q AS (
                SELECT vec_id AS query_id, embedding AS qv
                FROM embeddings WHERE vec_id < 5
            ), c AS (
                SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
            ), s AS (
                SELECT query_id, neighbor_id,
                       list_sum(list_transform(range(1, 65),
                           i -> qv[i]::DOUBLE * cv[i]::DOUBLE)) /
                       (sqrt(list_sum(list_transform(qv, x -> x::DOUBLE * x::DOUBLE))) *
                        sqrt(list_sum(list_transform(cv, x -> x::DOUBLE * x::DOUBLE)))) AS cos
                FROM q, c
            )
            SELECT query_id, neighbor_id, ROUND(cos + 1e-8, 4) AS cosine FROM s
            QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id ASC) <= 3
        """,
        "corpus_clean": r"""
            WITH w AS (
                SELECT doc_id, lang,
                       list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                   x -> x <> '') AS words
                FROM documents
            ), f AS (
                SELECT doc_id, lang,
                       CAST(len(words) AS BIGINT) AS n_tokens,
                       md5(array_to_string(words, ' ')) AS fp_content
                FROM w WHERE len(words) >= 10
            )
            SELECT doc_id, lang, n_tokens, fp_content FROM f
            QUALIFY ROW_NUMBER() OVER (PARTITION BY fp_content ORDER BY doc_id ASC) = 1
        """,
        "sessionization": """
            -- events.session_stats twin: lag/cumsum session assignment
            -- (new session when gap > 30 min), integer-ms durations
            WITH s AS (
                SELECT user_id, event_id, ts, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS is_new
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), t AS (
                SELECT user_id, ts, value,
                       SUM(is_new) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS session_idx
                FROM s
            )
            SELECT user_id,
                   CAST(session_idx AS BIGINT) AS session_idx,
                   MIN(ts) AS session_start,
                   MAX(ts) AS session_end,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(epoch_ms(MAX(ts)) - epoch_ms(MIN(ts)) AS BIGINT) AS duration_ms,
                   ROUND((SUM(value)) + 1e-6, 2) AS total_value
            FROM t GROUP BY user_id, session_idx
        """,
        "asof_join_events": """
            -- events.asof_join twin via DuckDB's native ASOF JOIN:
            -- greatest click ts at-or-before each purchase, per user
            SELECT l.event_id, l.user_id, l.ts, l.value,
                   r.ts AS click_ts, r.event_id AS click_event_id
            FROM (SELECT * FROM events WHERE event_type = 'purchase') l
            ASOF LEFT JOIN (
                -- same-ts ties resolve to the greatest event_id, the
                -- right_tiebreak contract of the Spark side
                SELECT user_id, ts, MAX(event_id) AS event_id
                FROM events WHERE event_type = 'click' GROUP BY user_id, ts
            ) r ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "asof_join_forward": """
            -- events.asof_join direction='forward' twin: earliest
            -- purchase ts at-or-after each click, per user
            SELECT l.event_id, l.user_id, l.ts,
                   r.ts AS purchase_ts, r.event_id AS purchase_event_id
            FROM (SELECT * FROM events WHERE event_type = 'click') l
            ASOF LEFT JOIN (
                -- forward ties resolve to the SMALLEST event_id
                SELECT user_id, ts, MIN(event_id) AS event_id
                FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
            ) r ON l.user_id = r.user_id AND l.ts <= r.ts
        """,
        "decontaminate": r"""
            -- text.decontaminate twin: distinct 3-gram shingles (same
            -- short-doc fallback as word_shingles), benchmark slice
            -- doc_id % 50 == 0, per-training-doc overlap counts
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                   x -> x <> '') AS words
                FROM documents
            ), g AS (
                SELECT doc_id, unnest(list_distinct(
                    list_filter([array_to_string(list_slice(words, i, i + 2), ' ')
                                 for i in range(1, greatest(len(words) - 2, 1) + 1)],
                                x -> x <> ''))) AS sh
                FROM w
            ), bench AS (
                SELECT DISTINCT sh FROM g WHERE doc_id % 50 = 0
            ), hits AS (
                SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
                FROM g JOIN bench USING (sh)
                WHERE g.doc_id % 50 <> 0
                GROUP BY g.doc_id
            )
            SELECT d.doc_id,
                   COALESCE(h.n_overlap, 0) AS n_overlap,
                   COALESCE(h.n_overlap, 0) >= 1 AS contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)
            WHERE d.doc_id % 50 <> 0
        """,
        "contamination_score": r"""
            -- text.contamination_fraction twin: same shingle pipeline
            -- as the decontaminate twin, but the per-doc DISTINCT gram
            -- count rides along as the denominator of the graded score
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                   x -> x <> '') AS words
                FROM documents
            ), g AS (
                SELECT doc_id, unnest(list_distinct(
                    list_filter([array_to_string(list_slice(words, i, i + 2), ' ')
                                 for i in range(1, greatest(len(words) - 2, 1) + 1)],
                                x -> x <> ''))) AS sh
                FROM w
            ), bench AS (
                SELECT DISTINCT sh FROM g WHERE doc_id % 50 = 0
            ), per_doc AS (
                SELECT g.doc_id,
                       CAST(COUNT(*) AS BIGINT) AS n_grams,
                       CAST(SUM(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_overlap
                FROM g LEFT JOIN bench b USING (sh)
                WHERE g.doc_id % 50 <> 0
                GROUP BY g.doc_id
            )
            SELECT d.doc_id,
                   COALESCE(p.n_grams, 0) AS n_grams,
                   COALESCE(p.n_overlap, 0) AS n_overlap,
                   ROUND(COALESCE(p.n_overlap, 0)
                         / greatest(COALESCE(p.n_grams, 0), 1) + 1e-9, 6)
                       AS contamination
            FROM documents d LEFT JOIN per_doc p USING (doc_id)
            WHERE d.doc_id % 50 <> 0
        """,
        "top_ngrams": r"""
            -- text.top_ngrams twin: non-distinct bigrams, global top-20
            -- with (count desc, gram asc) deterministic ordering
            WITH w AS (
                SELECT list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                   x -> x <> '') AS words
                FROM documents
            ), g AS (
                SELECT unnest([array_to_string(list_slice(words, i, i + 1), ' ')
                               for i in range(1, len(words))]) AS ngram
                FROM w WHERE len(words) >= 2
            )
            SELECT ngram, CAST(COUNT(*) AS BIGINT) AS n_occurrences
            FROM g GROUP BY ngram
            ORDER BY n_occurrences DESC, ngram ASC LIMIT 20
        """,
        "cluster_assign": """
            -- similarity.assign_nearest_centroid twin: same centroid
            -- choice (vec_id < 8), squared L2 summed in index order,
            -- argmin with (dist, cluster_id) tie-break
            WITH c AS (
                SELECT vec_id AS cluster_id, embedding AS centroid
                FROM embeddings WHERE vec_id < 8
            ), d AS (
                SELECT e.vec_id, c.cluster_id,
                       list_sum(list_transform(range(1, 65),
                           i -> (e.embedding[i]::DOUBLE - c.centroid[i]::DOUBLE)
                              * (e.embedding[i]::DOUBLE - c.centroid[i]::DOUBLE))) AS dist
                FROM embeddings e CROSS JOIN c
            )
            SELECT vec_id, cluster_id, ROUND(dist + 1e-6, 4) AS sq_dist FROM d
            QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY dist ASC, cluster_id ASC) = 1
        """,
        "quality_quantile_filter": rf"""
            -- sampling.filter_by_score_quantile twin: identical score
            -- terms (see quality_scores), quantile_cont threshold
            -- (same interpolation as Spark's exact percentile), filter
            -- on the unrounded doubles
            WITH w AS (
                SELECT doc_id, text,
                       list_filter(string_split_regex(lower(text), '[^\p{{L}}\p{{N}}]+'),
                                   x -> x <> '') AS words
                FROM documents
            ), t AS (
                SELECT doc_id,
                       ((least(len(words) / 50.0, 1.0)
                         + greatest(0.0, 1.0 -
                             (len(regexp_extract_all(text, '[^\p{{L}}\p{{N}} \t\n\v\f\r]'))
                              / greatest(length(text), 1)) * 4))
                        + least((len(list_filter(words,
                                    x -> list_contains([{_stopwords_en_sql()}], x)))
                                 / greatest(len(words), 1)) * 4, 1.0)
                        + len(list_distinct(words)) / greatest(len(words), 1)) / 4
                           AS qs
                FROM w
            ), thr AS (
                SELECT quantile_cont(qs, 0.75) AS t FROM t
            )
            SELECT doc_id, ROUND(qs + 1e-8, 4) AS quality_score
            FROM t, thr WHERE qs >= t
        """,
        "sliding_window": """
            -- F.window(ts, '1 hour', '30 minutes') twin: each event
            -- belongs to the 2 epoch-aligned 30-min-grid windows
            -- covering it (k = 0, 1 back-shifts of the 30-min floor)
            WITH b AS (
                SELECT event_type,
                       date_trunc('hour', ts)
                         + CASE WHEN minute(ts) >= 30
                                THEN INTERVAL 30 MINUTE
                                ELSE INTERVAL 0 MINUTE END AS bucket30
                FROM events
            )
            SELECT bucket30 - INTERVAL 30 MINUTE * k AS window_start,
                   event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM b CROSS JOIN (SELECT unnest([0, 1]) AS k)
            GROUP BY 1, 2
        """,
        "funnel": """
            -- events.funnel_counts twin: stacked running-max flags over
            -- the same (user, ts, event_id) ordering, per-user max,
            -- global sums, one row per funnel step
            WITH r1 AS (
                SELECT user_id, ts, event_id, event_type,
                       MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                           OVER w AS s1
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ), r2 AS (
                SELECT *, MAX(CASE WHEN event_type = 'click' THEN s1 ELSE 0 END)
                              OVER w AS s2
                FROM r1
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ), r3 AS (
                SELECT *, MAX(CASE WHEN event_type = 'purchase' THEN s2 ELSE 0 END)
                              OVER w AS s3
                FROM r2
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ), per_user AS (
                SELECT user_id, MAX(s1) AS s1, MAX(s2) AS s2, MAX(s3) AS s3
                FROM r3 GROUP BY user_id
            ), tot AS (
                SELECT CAST(SUM(s1) AS BIGINT) AS n1,
                       CAST(SUM(s2) AS BIGINT) AS n2,
                       CAST(SUM(s3) AS BIGINT) AS n3
                FROM per_user
            )
            SELECT 1 AS step_index, 'view' AS step, n1 AS n_completed FROM tot
            UNION ALL SELECT 2, 'click', n2 FROM tot
            UNION ALL SELECT 3, 'purchase', n3 FROM tot
        """,
        "cohort_retention": """
            -- events.cohort_retention twin: ISO-week truncation both
            -- engines, integer epoch-week periods
            WITH a AS (
                SELECT DISTINCT user_id,
                       CAST(date_trunc('week', ts) AS TIMESTAMP) AS activity_week
                FROM events
            ), c AS (
                SELECT user_id, MIN(activity_week) AS cohort_week
                FROM a GROUP BY user_id
            )
            SELECT c.cohort_week,
                   CAST((epoch(a.activity_week) - epoch(c.cohort_week)) / 604800
                        AS BIGINT) AS period_weeks,
                   CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
            FROM a JOIN c USING (user_id)
            GROUP BY 1, 2
        """,
        "snapshot_drift": _snapshot_drift_sql(),
        "interval_join": """
            -- batch twin of the streaming interval join: purchases
            -- within [click_ts, click_ts + 1 h], same user
            SELECT c.user_id, c.event_id AS click_id, c.ts AS click_ts,
                   p.event_id AS purchase_id, p.ts AS purchase_ts
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
              ON c.user_id = p.user_id
             AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        """,
        "scd2_history": """
            -- merge.scd2_history twin: null-safe change detection via
            -- IS DISTINCT FROM, (o_orderdate, o_orderkey) ordering on
            -- both windows, intervals by LEAD over the change rows
            WITH ordered AS (
                SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
                       LAG(o_orderstatus) OVER w AS prev_s,
                       ROW_NUMBER() OVER w AS rn
                FROM orders
                WINDOW w AS (PARTITION BY o_custkey
                             ORDER BY o_orderdate, o_orderkey)
            ), changes AS (
                SELECT o_custkey, o_orderstatus,
                       o_orderdate AS effective_from, o_orderkey
                FROM ordered
                WHERE rn = 1 OR o_orderstatus IS DISTINCT FROM prev_s
            )
            SELECT o_custkey, o_orderstatus, effective_from,
                   LEAD(effective_from) OVER w2 AS effective_to,
                   LEAD(effective_from) OVER w2 IS NULL AS is_current
            FROM changes
            WINDOW w2 AS (PARTITION BY o_custkey
                          ORDER BY effective_from, o_orderkey)
        """,
        "pivot_status": """
            -- conform.pivot_aggregate twin: conditional aggregation,
            -- same epsilon-nudged cent rounding, NULL for empty combos
            SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
                   ROUND(SUM(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END) + 1e-6, 2) AS revenue_O,
                   ROUND(SUM(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END) + 1e-6, 2) AS revenue_F,
                   ROUND(SUM(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END) + 1e-6, 2) AS revenue_P
            FROM orders GROUP BY 1
        """,
        "tfidf_top_terms": r"""
            -- text.tfidf_top_terms twin: same tokenization as
            -- top_ngrams, sklearn-smoothed idf, rank on the ROUNDED
            -- score (ties -> term asc) exactly like the Spark window
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                   x -> x <> '') AS words
                FROM documents
            ), t AS (
                SELECT doc_id, unnest(words) AS term FROM w
            ), tf AS (
                SELECT doc_id, term, COUNT(*)::DOUBLE AS tf
                FROM t GROUP BY doc_id, term
            ), dfreq AS (
                SELECT term, COUNT(*)::DOUBLE AS df FROM tf GROUP BY term
            ), n AS (
                SELECT COUNT(*)::DOUBLE AS n_docs FROM documents
            ), scored AS (
                SELECT doc_id, term,
                       ROUND(tf * (ln((n_docs + 1) / (df + 1)) + 1) + 1e-9, 6) AS tfidf
                FROM tf JOIN dfreq USING (term) CROSS JOIN n
            )
            SELECT doc_id, term, tfidf FROM scored
            QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, term ASC) <= 3
        """,
        "pack_documents": _pack_oracle_sql(),
        "weighted_sample": _weighted_sample_oracle_sql(),
        "order_priority_check": f"""
            -- TPC-H Q4-shaped EXISTS: orders in the {SHIP_START[:4]} ship
            -- window with >=1 returned lineitem, counted by priority
            SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
            FROM orders o
            WHERE o.o_orderdate BETWEEN TIMESTAMP '{SHIP_START} 00:00:00'
                                    AND TIMESTAMP '{SHIP_END} 00:00:00'
              AND EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_returnflag = 'R')
            GROUP BY o_orderpriority
        """,
        "snapshot_diff_cdc": """
            -- merge.snapshot_diff twin: same synthetic versions, full
            -- outer join, column-wise IS DISTINCT FROM change labels
            WITH old_v AS (
                SELECT o_orderkey, o_totalprice, o_orderstatus
                FROM orders WHERE o_orderkey % 7 <> 0
            ), new_v AS (
                SELECT o_orderkey,
                       CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 10.0
                            ELSE o_totalprice END AS o_totalprice,
                       o_orderstatus
                FROM orders WHERE o_orderkey % 5 <> 0
            ), d AS (
                SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
                       CASE WHEN o.o_orderkey IS NULL THEN 'added'
                            WHEN n.o_orderkey IS NULL THEN 'removed'
                            WHEN (o.o_totalprice IS DISTINCT FROM n.o_totalprice)
                              OR (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
                              THEN 'changed'
                            ELSE 'unchanged' END AS change_type
                FROM old_v o FULL OUTER JOIN new_v n
                  ON o.o_orderkey = n.o_orderkey
            )
            SELECT o_orderkey, change_type FROM d
            WHERE change_type <> 'unchanged'
        """,
        "mix_corpus": _mix_oracle_sql(),
        "zorder_key": _zorder_oracle_sql(),
        "rolling_user_value": """
            -- events.rolling_stats twin: identical ROWS frame,
            -- (ts, event_id) ordering, epsilon-nudged sum/avg rounding
            SELECT event_id, user_id, ts, value,
                   ROUND(SUM(value) OVER w + 1e-6, 2) AS roll_sum,
                   ROUND(AVG(value) OVER w + 1e-6, 2) AS roll_avg,
                   MIN(value) OVER w AS roll_min,
                   MAX(value) OVER w AS roll_max,
                   CAST(COUNT(value) OVER w AS BIGINT) AS roll_n
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        """,
        "referential_orphans": """
            -- quality.referential_check twin: NOT EXISTS against the
            -- thinned parent, NULL FKs exempt and counted separately
            WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_child FROM lineitem),
            nf AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_null_fk
                   FROM lineitem WHERE l_orderkey IS NULL),
            o AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_orphans
                  FROM lineitem l
                  WHERE l.l_orderkey IS NOT NULL
                    AND NOT EXISTS (SELECT 1 FROM orders p
                                    WHERE p.o_orderkey % 3 <> 0
                                      AND p.o_orderkey = l.l_orderkey))
            SELECT n_child, n_null_fk, n_orphans,
                   n_orphans = 0 AS ref_ok
            FROM c, nf, o
        """,
        "revenue_share": """
            -- ratio-to-report twin: nation revenue (cent-rounded) over
            -- a region-partitioned window sum of the rounded values
            WITH rev AS (
                SELECT r_name AS region, n_name AS nation,
                       ROUND((SUM(l_extendedprice * (1 - l_discount))) + 1e-6, 2)
                           AS revenue
                FROM customer
                JOIN orders ON c_custkey = o_custkey
                JOIN lineitem ON l_orderkey = o_orderkey
                JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
                JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
                GROUP BY r_name, n_name
            )
            SELECT region, nation, revenue,
                   ROUND(revenue / SUM(revenue) OVER (PARTITION BY region) + 1e-9, 6)
                       AS revenue_share
            FROM rev
        """,
        "window_percentiles": """
            -- distribution-rank window twin: same deterministic
            -- (price, key) ordering, nudged double rounding
            SELECT o_orderkey, o_orderstatus,
                   CAST(NTILE(4) OVER w AS BIGINT) AS price_quartile,
                   ROUND(PERCENT_RANK() OVER w + 1e-9, 6) AS pct_rank,
                   ROUND(CUME_DIST() OVER w + 1e-9, 6) AS cume_dist
            FROM orders
            WINDOW w AS (PARTITION BY o_orderstatus
                         ORDER BY o_totalprice ASC, o_orderkey ASC)
        """,
        "daily_revenue_delta": """
            -- day-over-day delta twin, mirroring the Spark side's
            -- year-partitioned lag + boundary stitch: lag within the
            -- calendar year, January-1 rows take the previous year's
            -- last-day revenue; NULL delta on the global first day (and
            -- after a whole-year gap, where day-over-day is undefined)
            WITH daily AS (
                SELECT CAST(o_orderdate AS DATE) AS order_date,
                       ROUND(SUM(o_totalprice) + 1e-6, 2) AS revenue
                FROM orders GROUP BY 1
            ), lagged AS (
                SELECT order_date, revenue,
                       EXTRACT(year FROM order_date) AS yr,
                       LAG(revenue) OVER (
                           PARTITION BY EXTRACT(year FROM order_date)
                           ORDER BY order_date) AS prev_rev
                FROM daily
            ), year_last AS (
                SELECT EXTRACT(year FROM order_date) AS yl_yr,
                       arg_max(revenue, order_date) AS last_rev
                FROM daily GROUP BY 1
            )
            SELECT l.order_date, l.revenue,
                   ROUND(l.revenue - COALESCE(l.prev_rev, y.last_rev) + 1e-9, 2)
                       AS revenue_delta
            FROM lagged l
            LEFT JOIN year_last y
              ON l.prev_rev IS NULL AND y.yl_yr = l.yr - 1
        """,
        "session_window_agg": """
            -- native session_window twin: the hand-rolled lag/cumsum
            -- session assignment (same as the sessionization oracle),
            -- then per-session aggregates; end = last event + 30 min
            WITH flagged AS (
                SELECT user_id, ts, value,
                       CASE WHEN LAG(ts) OVER w IS NULL
                              OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS new_session
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), sess AS (
                SELECT user_id, ts, value,
                       SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_idx
                FROM flagged
            )
            SELECT user_id,
                   MIN(ts) AS session_start,
                   MAX(ts) + INTERVAL 30 MINUTE AS session_end,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   ROUND(SUM(value) + 1e-6, 2) AS total_value
            FROM sess GROUP BY user_id, session_idx
        """,
        "group_percentiles": """
            -- exact-percentile twin: quantile_cont shares Spark
            -- percentile's linear interpolation (column_profile parity)
            SELECT o_orderstatus,
                   ROUND(quantile_cont(o_totalprice, 0.5) + 1e-6, 2) AS p50_price,
                   ROUND(quantile_cont(o_totalprice, 0.9) + 1e-6, 2) AS p90_price,
                   CAST(COUNT(*) AS BIGINT) AS n_orders
            FROM orders GROUP BY o_orderstatus
        """,
        "incremental_daily_sales": """
            -- merge_aggregate twin is the DIRECT recompute: the
            -- incremental fold must equal aggregating all of history
            SELECT CAST(o_orderdate AS DATE) AS sale_date,
                   ROUND(SUM(o_totalprice) + 1e-6, 2) AS revenue,
                   CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM orders GROUP BY 1
        """,
        "customer_order_distribution": """
            -- Q13-shaped twin: LEFT join keeps zero-order customers,
            -- COUNT(col) ignores the NULL right side
            WITH c AS (
                SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
                FROM customer LEFT JOIN orders ON c_custkey = o_custkey
                GROUP BY c_custkey
            )
            SELECT n_orders, CAST(COUNT(*) AS BIGINT) AS n_customers
            FROM c GROUP BY n_orders
        """,
        "json_props_stats": """
            -- from_json twin: json_extract_string + cast, same
            -- per-type aggregates
            SELECT event_type,
                   ROUND(AVG(CAST(json_extract_string(props, '$.k') AS INTEGER))
                         + 1e-6, 2) AS avg_k,
                   CAST(MAX(CAST(json_extract_string(props, '$.k') AS INTEGER))
                        AS BIGINT) AS max_k,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY event_type
        """,
        "repeat_buyers": """
            -- set-ops twin: INTERSECT for repeat, EXCEPT for churned
            SELECT o_custkey, 'repeat' AS cohort FROM (
                SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
                INTERSECT
                SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997
            )
            UNION ALL
            SELECT o_custkey, 'churned' AS cohort FROM (
                SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
                EXCEPT
                SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997
            )
        """,
        "small_quantity_revenue": """
            -- Q17-shaped twin: correlated scalar subquery, threshold
            -- rounded identically to the Spark decorrelated form
            SELECT ROUND(SUM(l_extendedprice) / 7.0 + 1e-6, 2) AS avg_yearly
            FROM lineitem l1
            WHERE l_quantity < (
                SELECT ROUND(0.2 * AVG(l_quantity) + 1e-9, 6)
                FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey
            )
        """,
        "scd2_asof_lookup": """
            -- scd2_lookup twin: the scd2_history CTE narrowed to the
            -- version valid at the probe instant
            WITH ordered AS (
                SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
                       LAG(o_orderstatus) OVER w AS prev_s,
                       ROW_NUMBER() OVER w AS rn
                FROM orders
                WINDOW w AS (PARTITION BY o_custkey
                             ORDER BY o_orderdate, o_orderkey)
            ), changes AS (
                SELECT o_custkey, o_orderstatus,
                       o_orderdate AS effective_from, o_orderkey
                FROM ordered
                WHERE rn = 1 OR o_orderstatus IS DISTINCT FROM prev_s
            ), hist AS (
                SELECT o_custkey, o_orderstatus, effective_from,
                       LEAD(effective_from) OVER w2 AS effective_to,
                       LEAD(effective_from) OVER w2 IS NULL AS is_current
                FROM changes
                WINDOW w2 AS (PARTITION BY o_custkey
                              ORDER BY effective_from, o_orderkey)
            )
            SELECT * FROM hist
            WHERE effective_from <= TIMESTAMP '1996-06-01 00:00:00'
              AND (effective_to IS NULL
                   OR effective_to > TIMESTAMP '1996-06-01 00:00:00')
        """,
        "dup_rate_by_source": """
            -- per-source duplication twin: md5 over the text bytes on
            -- both engines
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT)
                       AS n_dup_rows
            FROM documents GROUP BY source
        """,
    }

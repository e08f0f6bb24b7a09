"""Statistics & data-quality queries — SURVEY.md §2.4 A1–A9 and the §5
runtime gates, returned as small metric DataFrames.

This is the reference's entire query surface (global aggregates per
staging table + threshold gates), expressed as single-pass Spark aggs.
Every one is a full-scan-free candidate at 100 TB when the table is
date-partitioned: freshness/recency checks prune to recent partitions,
and counts can run on partition metadata where exactness isn't needed
(approx variants provided).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..eager import materialize, materialize_counted
from ..session import local_frame


def table_stats(
    df: DataFrame,
    key_col: str | None = None,
    ts_col: str | None = None,
    batch_col: str = "etl_batch_id",
) -> DataFrame:
    """A1–A4 in one pass: row count, distinct keys, min/max timestamps,
    distinct batches (tiktok_shop_staging_loader.py:160-196,
    misa_crm_loader.py:285-310). One aggregation job, map-side partial.
    """
    aggs = [F.count("*").alias("total_rows")]
    if key_col and key_col in df.columns:
        aggs.append(F.countDistinct(key_col).alias("unique_keys"))
        aggs.append(F.approx_count_distinct(key_col).alias("approx_unique_keys"))
    if ts_col and ts_col in df.columns:
        aggs.append(F.min(ts_col).alias("earliest"))
        aggs.append(F.max(ts_col).alias("latest"))
    if batch_col in df.columns:
        aggs.append(F.countDistinct(batch_col).alias("total_batches"))
    return df.agg(*aggs)


def column_profile(
    df: DataFrame,
    columns: list[str] | None = None,
    exact_distinct: bool = False,
    approx_percentiles: bool = False,
) -> DataFrame:
    """Per-column data profile: one row per column with
    (column_name, n_rows, n_null, n_distinct, min_value, max_value,
    p25, p50, p75). Numeric stats are NULL for non-numeric columns;
    percentiles are the exact interpolated definition (``percentile``),
    so an external engine's quantile_cont reproduces them.

    ALL columns profile in ONE aggregation pass over ONE table scan
    (every per-column stat is an aliased aggregate in a single
    ``agg``, map-side partials included); the single result row is
    reshaped to k rows with an array-of-structs explode — no joins, no
    extra scans. ``exact_distinct`` defaults to **False**:
    COUNT(DISTINCT) is the only stat here that needs a full shuffle of
    values, and for the profiling use case the HLL approximation
    (~2% error) is the safe out-of-the-box choice at 100 TB. Pass
    ``exact_distinct=True`` when an exact cardinality matters (the
    oracle-certified `column_profile` query pins it exact).

    ``approx_percentiles=True`` swaps the exact interpolated
    ``percentile`` (a sort-based aggregate) for ``percentile_approx``
    (Greenwald-Khanna sketch at accuracy 10000 — map-side combinable,
    no per-column value sort) — the percentile half of the same 100 TB
    story; the returned quartiles are then actual column values within
    the sketch's rank-error bound rather than interpolated points, so
    they are envelope-checked, not hash-pinned, by the oracle.
    Measured at sf1 the full-approx profile is 12.5x FASTER than the
    default (SCALE.md §6b) — beyond ~10M rows, pass
    ``approx_percentiles=True``.
    """
    from pyspark.sql.types import NumericType

    cols = columns or df.columns
    distinct_fn = F.countDistinct if exact_distinct else F.approx_count_distinct

    def pctile(num, p: int):
        if approx_percentiles:
            return F.percentile_approx(num, F.lit(p / 100), F.lit(10000))
        return F.percentile(num, F.lit(p / 100))
    aggs = [F.count("*").cast("long").alias("__n_rows")]
    dist_aggs = []
    for i, c in enumerate(cols):
        numeric = isinstance(df.schema[c].dataType, NumericType)
        num = F.col(c).cast("double") if numeric else F.lit(None).cast("double")
        dist_aggs.append(distinct_fn(F.col(c)).cast("long").alias(f"__dist_{i}"))
        aggs.extend(
            [
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                .cast("long")
                .alias(f"__null_{i}"),
                F.min(num).alias(f"__min_{i}"),
                F.max(num).alias(f"__max_{i}"),
                *[
                    F.round(pctile(num, p) + 1e-9, 4).alias(f"__p{p}_{i}")
                    for p in (25, 50, 75)
                ],
            ]
        )
    if exact_distinct and len(cols) > 1:
        # Multiple exact COUNT(DISTINCT)s make Catalyst rewrite the whole
        # aggregation through an Expand (one row copy per distinct column)
        # whose first level then groups by (value..., gid) — NEAR-UNIQUE
        # keys when any profiled column is a key column — with every
        # non-distinct aggregate riding along as a per-group buffer. The
        # exact ``percentile`` buffers are whole value->count maps, so the
        # mid-plan exchange serializes one map PER GROUP: measured ~9 s
        # for 3 columns of sf0.1 orders. Splitting the distincts into
        # their own aggregation keeps the percentile/min/max pass a plain
        # two-level HashAggregate over un-expanded rows (one tiny buffer
        # set total, map-side combined) and lets the distinct pass dedup
        # map-side with no object buffers: ~9 s -> ~3 s A/B-interleaved
        # at sf0.1, same values (plans/r12/OPTIMIZATION.md).
        # The two one-row results recombine with a trivial 1x1 cross join.
        one_row = df.agg(*aggs).crossJoin(df.agg(*dist_aggs))
    else:
        # approx_count_distinct (HLL) is an ordinary declarative
        # aggregate — no Expand rewrite, so one pass stays optimal.
        one_row = df.agg(*aggs, *dist_aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column_name"),
            F.col("__n_rows").alias("n_rows"),
            F.col(f"__null_{i}").alias("n_null"),
            F.col(f"__dist_{i}").alias("n_distinct"),
            F.col(f"__min_{i}").alias("min_value"),
            F.col(f"__max_{i}").alias("max_value"),
            F.col(f"__p25_{i}").alias("p25"),
            F.col(f"__p50_{i}").alias("p50"),
            F.col(f"__p75_{i}").alias("p75"),
        )
        for i, c in enumerate(cols)
    ]
    return one_row.select(F.explode(F.array(*structs)).alias("_p")).select("_p.*")


def rows_last_hours(df: DataFrame, ts_col: str, hours: int = 24) -> DataFrame:
    """A5 — time-windowed conditional count
    (misa_crm_loader.py:357-362)."""
    cond = F.col(ts_col) >= F.current_timestamp() - F.expr(f"INTERVAL {hours} HOURS")
    # coalesce: zero recent rows on an empty table, not NULL
    return df.agg(
        F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("recent_rows")
    )


def multi_table_summary(tables: dict[str, DataFrame]) -> DataFrame:
    """A6 — per-table counts + quality score fold
    (production_etl_orchestrator.py:289-320): stacked counts frame with
    tables_with_data and quality_score derivable by one more agg."""
    if not tables:
        raise ValueError("multi_table_summary: empty tables dict, no table to count")
    counts = None
    for name, df in tables.items():
        row = df.agg(F.count("*").alias("records")).select(
            F.lit(name).alias("table_name"), F.col("records")
        )
        counts = row if counts is None else counts.unionByName(row)
    return counts


def quality_gate(summary: DataFrame, min_tables_with_data: int = 5) -> DataFrame:
    """The ≥5-of-6-tables-non-empty pass bar
    (dags/incremental_etl_dag.py:237, orchestrator :308) + quality_score
    = tables_with_data/total*100."""
    return summary.agg(
        F.count("*").alias("total_tables"),
        F.sum(F.when(F.col("records") > 0, 1).otherwise(0)).cast("long").alias("tables_with_data"),
        F.sum("records").alias("total_records"),
    ).select(
        "*",
        (F.col("tables_with_data") / F.col("total_tables") * 100).alias("quality_score"),
        (F.col("tables_with_data") >= min_tables_with_data).alias("passed"),
    )


def gate_report(tables: dict[str, DataFrame], min_tables_with_data: int = 5) -> dict:
    """:func:`quality_gate` over :func:`multi_table_summary` of
    ``tables``, collected in one job as typed Python values — the gate
    dict the runner's cycle report and the CLI print. No tables at all
    is the all-zero, failed gate (no job runs)."""
    if not tables:
        return {
            "tables_with_data": 0,
            "total_tables": 0,
            "total_records": 0,
            "quality_score": 0.0,
            "passed": False,
        }
    gate = quality_gate(multi_table_summary(tables), min_tables_with_data).collect()[0]
    return {
        "tables_with_data": int(gate["tables_with_data"]),
        "total_tables": int(gate["total_tables"]),
        "total_records": int(gate["total_records"]),
        "quality_score": float(gate["quality_score"]),
        "passed": bool(gate["passed"]),
    }


def flatten_invariants(
    raw_orders: DataFrame,
    flattened: DataFrame,
    order_key: str = "order_id",
    item_key: str = "item_id",
    items_col: str = "sale_order_product_mappings",
    raw_order_key: str = "id",
) -> DataFrame:
    """A9 — the key correctness property of the signature flatten
    (misa_crm_transformer.py:388-447):

    * unique orders after flatten == raw order count
    * rows with non-null item == Σ len(order.items)
    plus with/without-items tallies. Returns a one-row frame with
    booleans so pipelines can assert on it cheaply.
    """
    # every sum coalesces to 0: an EMPTY extract cycle must yield
    # 0==0 -> TRUE invariants, not NULL sums whose == comparison makes
    # the preserved booleans NULL (an empty cycle would "fail" a gate
    # that filters on them)
    def _z(col):
        return F.coalesce(F.sum(col), F.lit(0)).cast("long")

    raw_stats = raw_orders.agg(
        F.countDistinct(raw_order_key).alias("raw_orders"),
        _z(F.size(F.coalesce(F.col(items_col), F.array()))).alias("raw_items"),
        _z(
            F.when(F.size(F.coalesce(F.col(items_col), F.array())) > 1, 1).otherwise(0)
        ).alias("raw_multi_item_orders"),
        _z(
            F.when(F.size(F.coalesce(F.col(items_col), F.array())) == 0, 1).otherwise(0)
        ).alias("raw_empty_orders"),
    )
    flat_stats = flattened.agg(
        F.countDistinct(order_key).alias("flat_orders"),
        _z(F.when(F.col(item_key).isNotNull(), 1).otherwise(0)).alias("flat_items"),
    )
    return raw_stats.crossJoin(flat_stats).select(
        "*",
        (F.col("flat_orders") == F.col("raw_orders")).alias("orders_preserved"),
        (F.col("flat_items") == F.col("raw_items")).alias("items_preserved"),
    )


def validate_pre_load(
    df: DataFrame,
    required_columns: list[str],
    pk_col: str = "order_id",
    quantity_col: str | None = None,
) -> DataFrame:
    """Pre-load validation (tiktok_shop_staging_loader.py:205-250):
    required columns present (hard fail — raises), null-PK count (hard
    fail when >0 in the caller), negative-quantity count (warn)."""
    missing = [c for c in required_columns if c not in df.columns]
    if missing:
        raise ValueError(f"missing required columns: {missing}")
    aggs = [
        F.count("*").alias("total_rows"),
        F.sum(F.when(F.col(pk_col).isNull(), 1).otherwise(0)).cast("long").alias("null_pk_rows"),
    ]
    if quantity_col and quantity_col in df.columns:
        aggs.append(
            F.sum(F.when(F.col(quantity_col) < 0, 1).otherwise(0))
            .cast("long")
            .alias("negative_quantity_rows")
        )
    return df.agg(*aggs)


def validate_post_load(
    loaded: DataFrame,
    expected_min_rows: int,
    ts_col: str = "etl_created_at",
    freshness_hours: int = 1,
) -> DataFrame:
    """Post-load validation (misa_crm_loader.py:263-323): count ≥
    expected and MAX(etl_created_at) within the freshness bar."""
    return loaded.agg(
        F.count("*").alias("actual_rows"),
        F.max(ts_col).alias("latest_load"),
    ).select(
        "*",
        (F.col("actual_rows") >= expected_min_rows).alias("count_ok"),
        (
            F.col("latest_load")
            >= F.current_timestamp() - F.expr(f"INTERVAL {freshness_hours} HOURS")
        ).alias("fresh"),
    )


def snapshot_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    columns: list[str],
    null_frac_threshold: float = 0.05,
    mean_rel_threshold: float = 0.10,
) -> DataFrame:
    """Distribution drift between two snapshots of the same table —
    the between-cycle sanity check the reference's monitor implies but
    never implements (production_monitor.py tracks only volumes).

    One aggregation pass per snapshot (same single-scan shape as
    :func:`column_profile`), joined on column name: per column the
    row/null counts, null fractions, means (numeric only), and two
    drift flags — absolute null-fraction shift above
    ``null_frac_threshold`` and relative mean shift above
    ``mean_rel_threshold``. All inputs to the flags are exact counts
    and one division, so an external engine reproduces them.
    """
    from pyspark.sql.types import NumericType

    def profile(df: DataFrame, tag: str) -> DataFrame:
        aggs = [F.count("*").cast("long").alias(f"n_rows_{tag}")]
        for i, c in enumerate(columns):
            numeric = isinstance(df.schema[c].dataType, NumericType)
            num = F.col(c).cast("double") if numeric else F.lit(None).cast("double")
            aggs.append(
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                .cast("long")
                .alias(f"__null_{i}")
            )
            aggs.append(F.avg(num).alias(f"__mean_{i}"))
        one = df.agg(*aggs)
        structs = [
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"n_rows_{tag}").alias(f"n_rows_{tag}"),
                F.col(f"__null_{i}").alias(f"n_null_{tag}"),
                F.col(f"__mean_{i}").alias(f"mean_{tag}"),
            )
            for i, c in enumerate(columns)
        ]
        return one.select(F.explode(F.array(*structs)).alias("_p")).select("_p.*")

    joined = profile(df_a, "a").join(profile(df_b, "b"), "column_name")
    null_frac_a = F.col("n_null_a") / F.greatest(F.col("n_rows_a"), F.lit(1))
    null_frac_b = F.col("n_null_b") / F.greatest(F.col("n_rows_b"), F.lit(1))
    mean_shift = F.when(
        F.col("mean_a").isNotNull() & (F.col("mean_a") != 0),
        F.abs(F.col("mean_b") - F.col("mean_a")) / F.abs(F.col("mean_a")),
    )
    return joined.select(
        "column_name",
        "n_rows_a",
        "n_rows_b",
        "n_null_a",
        "n_null_b",
        F.round(null_frac_a + 1e-9, 4).alias("null_frac_a"),
        F.round(null_frac_b + 1e-9, 4).alias("null_frac_b"),
        F.round(F.col("mean_a") + 1e-9, 4).alias("mean_a"),
        F.round(F.col("mean_b") + 1e-9, 4).alias("mean_b"),
        (F.abs(null_frac_b - null_frac_a) > null_frac_threshold).alias("null_drift"),
        F.coalesce(mean_shift > mean_rel_threshold, F.lit(False)).alias("mean_drift"),
    )


def referential_check(
    child: DataFrame,
    parent: DataFrame,
    fk: list[str],
    pk: list[str],
) -> DataFrame:
    """Referential-integrity gate: count child rows whose foreign key
    has no matching parent row (orphans) — the FK constraint the
    reference delegates to SQL Server, expressed as a scan + anti-join
    so it works on files.

    SQL FK semantics: rows with any NULL foreign-key component are
    exempt (MATCH SIMPLE) and counted separately instead of as orphans.
    Plan: two passes over the child — one aggregate computing both row
    counts, and one anti-join of its FK projection against the parent's
    deduped PK projection. The join carries keys only, broadcasts when
    the parent is a dim, and AQE handles FK skew at 100 TB.
    Returns one row: n_child, n_null_fk, n_orphans, ref_ok.
    """
    if not fk or not pk:
        raise ValueError("referential_check: fk and pk must be non-empty")
    if len(fk) != len(pk):
        raise ValueError("referential_check: fk and pk must have equal length")
    clash = [c for c in child.columns if c.startswith("__p_")]
    if clash:
        raise ValueError(
            f"referential_check: child columns {clash} collide with the "
            "internal __p_ parent-key prefix; rename them first"
        )
    null_fk = None
    for c in fk:
        cond = F.col(c).isNull()
        null_fk = cond if null_fk is None else null_fk | cond
    keys = parent.select(*pk).dropDuplicates(pk)
    for a, b in zip(fk, pk):
        keys = keys.withColumnRenamed(b, f"__p_{a}")
    cond = None
    for c in fk:
        eq = F.col(c) == F.col(f"__p_{c}")
        cond = eq if cond is None else cond & eq
    candidates = child.filter(~null_fk)
    orphans = candidates.join(keys, cond, "left_anti")
    # one scan computes both row counts; the anti-join is the only
    # other pass over the child
    totals = child.agg(
        F.count("*").cast("long").alias("n_child"),
        F.coalesce(F.sum(null_fk.cast("long")), F.lit(0)).cast("long").alias(
            "n_null_fk"
        ),
    )
    return (
        totals.crossJoin(orphans.agg(F.count("*").cast("long").alias("n_orphans")))
        .withColumn("ref_ok", F.col("n_orphans") == 0)
    )


def population_stability_index(
    df_base: DataFrame,
    df_curr: DataFrame,
    col: str,
    num_bins: int = 10,
    approx: bool = False,
    epsilon: float = 1e-4,
) -> DataFrame:
    """Population Stability Index per bin between two snapshots of a
    numeric column — the standard "has this feature's distribution
    moved" monitor (PSI < 0.1 stable, 0.1-0.25 drifting, > 0.25 shifted;
    complements :func:`snapshot_drift`, which only flags mean/null
    shifts and so misses shape changes with a preserved mean).

    Bin edges are the BASE snapshot's ``num_bins``-quantiles (the
    convention: score the current population against the reference's
    binning), computed as one 1-row aggregate broadcast over both
    frames — ``approx=True`` swaps the exact interpolated percentile
    for the mergeable KLL sketch at scale. Bucketing is the same
    strict-``>`` boundary count as sampling.curriculum_order, a narrow
    codegen pass; each side then reduces to at most ``num_bins``
    grouped counts, a right-outer-safe join on bin id, and the PSI
    term ``(p_curr - p_base) * ln(p_curr / p_base)`` with an
    ``epsilon`` floor so an empty bin contributes a large-but-finite
    term instead of infinity. Total PSI = ``sum(psi_term)``. NULLs are
    excluded from both sides (they carry no position in the
    distribution; track them with snapshot_drift's null_frac).
    """
    if num_bins < 2:
        raise ValueError("population_stability_index: num_bins must be >= 2")
    score = F.col(col).cast("double")
    base_vals = df_base.select(score.alias("_v")).filter(F.col("_v").isNotNull())
    curr_vals = df_curr.select(score.alias("_v")).filter(F.col("_v").isNotNull())
    bounds = _quantile_edges(base_vals, num_bins, approx)

    def binned(vals: DataFrame, tag: str) -> DataFrame:
        return (
            vals.join(F.broadcast(bounds))
            .select(_hist_bucket().alias("bin"))
            .groupBy("bin")
            .agg(F.count("*").cast("long").alias(f"n_{tag}"))
        )

    bins = df_base.sparkSession.range(num_bins).select(
        F.col("id").cast("int").alias("bin")
    )
    joined = (
        bins.join(binned(base_vals, "base"), "bin", "left")
        .join(binned(curr_vals, "curr"), "bin", "left")
        .select(
            "bin",
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
            F.coalesce("n_curr", F.lit(0)).alias("n_curr"),
        )
    )
    totals = joined.agg(
        F.sum("n_base").cast("long").alias("_tb"),
        F.sum("n_curr").cast("long").alias("_tc"),
    )
    p_base = F.greatest(F.col("n_base") / F.col("_tb"), F.lit(epsilon))
    p_curr = F.greatest(F.col("n_curr") / F.col("_tc"), F.lit(epsilon))
    return (
        joined.crossJoin(F.broadcast(totals))
        .select(
            "bin",
            "n_base",
            "n_curr",
            F.round(p_base + 1e-12, 6).alias("p_base"),
            F.round(p_curr + 1e-12, 6).alias("p_curr"),
            F.round((p_curr - p_base) * F.log(p_curr / p_base) + 1e-12, 6).alias(
                "psi_term"
            ),
        )
        .orderBy("bin")
    )


def ks_two_sample(
    df_base: DataFrame,
    df_curr: DataFrame,
    col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between two
    snapshots of a numeric column — the nonparametric companion to
    :func:`population_stability_index`: PSI needs a binning choice and
    saturates on its epsilon floor; KS is binning-free (the max ECDF
    gap over every observed value) and comes with classical critical
    values (reject same-distribution at alpha=0.05 when
    D > 1.358 * sqrt((n+m)/(n*m))).

    Returns ONE row: ``ks_stat`` (rounded to 6), ``at_value`` (the
    smallest value attaining the max gap — deterministic tiebreak),
    ``n_base``, ``n_curr``.

    The global ECDF needs a running sum in value order, and the naive
    ``Window.orderBy(col)`` with no partition key collapses the whole
    frame into ONE task — the classic Spark scale trap. Instead this
    is a textbook distributed prefix sum: (1) reduce both sides to
    per-distinct-value counts (one map-side-combined shuffle — the
    working set is distinct values, not rows); (2) range-repartition
    by value and take within-partition cumulative sums (Window keyed
    by ``spark_partition_id`` — every task sorts only its slice);
    (3) collect ONE subtotal row per partition (bounded by
    ``num_partitions``, never by data), exclusive-scan them on the
    driver, and broadcast the offsets back. The counts frame is
    localCheckpoint-ed after the range partitioning so the window pass
    and the subtotal pass see identical partition ids (range boundary
    sampling is not otherwise guaranteed stable across re-execution).
    The final argmax is TakeOrderedAndProject — no global sort
    materializes. NULLs are excluded (no position in a distribution);
    an empty side raises (D against nothing is undefined — loud beats
    a NULL a gate would misread).
    """
    from pyspark.sql import Window

    spark = df_base.sparkSession
    base = df_base.select(F.col(col).cast("double").alias("_v")).filter(
        F.col("_v").isNotNull()
    )
    curr = df_curr.select(F.col(col).cast("double").alias("_v")).filter(
        F.col("_v").isNotNull()
    )
    tagged = base.select(
        "_v", F.lit(1).alias("_b"), F.lit(0).alias("_c")
    ).unionByName(curr.select("_v", F.lit(0).alias("_b"), F.lit(1).alias("_c")))
    counts = tagged.groupBy("_v").agg(
        F.sum("_b").cast("long").alias("_nb"),
        F.sum("_c").cast("long").alias("_nc"),
    )
    n_parts = num_partitions or spark.sparkContext.defaultParallelism
    parts, _ = materialize_counted(
        counts.repartitionByRange(n_parts, "_v").withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    subtotals = sorted(
        parts.groupBy("_pid")
        .agg(F.sum("_nb").alias("_sb"), F.sum("_nc").alias("_sc"))
        .collect(),
        key=lambda r: r["_pid"],
    )
    off_b = off_c = 0
    offsets = []
    for r in subtotals:
        offsets.append((r["_pid"], off_b, off_c))
        off_b += r["_sb"]
        off_c += r["_sc"]
    n_base, n_curr = off_b, off_c
    if n_base == 0 or n_curr == 0:
        raise ValueError(
            f"ks_two_sample: empty {'base' if n_base == 0 else 'curr'} side "
            f"for column {col!r} (n_base={n_base}, n_curr={n_curr}); the KS "
            "statistic is undefined against an empty sample"
        )
    odf = F.broadcast(
        local_frame(spark, offsets, "_pid int, _ob long, _oc long")
    )
    w = Window.partitionBy("_pid").orderBy("_v")
    gaps = (
        parts.withColumn("_cb", F.sum("_nb").over(w))
        .withColumn("_cc", F.sum("_nc").over(w))
        .join(odf, "_pid")
        .select(
            "_v",
            # 1e-9 nudge before rounding: same half-ulp idiom as the
            # money-sum oracles so external engines agree bit-for-bit
            F.round(
                F.abs(
                    (F.col("_cb") + F.col("_ob")) / F.lit(float(n_base))
                    - (F.col("_cc") + F.col("_oc")) / F.lit(float(n_curr))
                )
                + 1e-9,
                6,
            ).alias("_d"),
        )
    )
    return (
        gaps.orderBy(F.col("_d").desc(), F.col("_v").asc())
        .limit(1)
        .select(
            F.col("_d").alias("ks_stat"),
            F.col("_v").alias("at_value"),
            F.lit(n_base).cast("long").alias("n_base"),
            F.lit(n_curr).cast("long").alias("n_curr"),
        )
    )


def chi2_categorical(
    df_base: DataFrame,
    df_curr: DataFrame,
    col: str,
    epsilon: float = 1e-4,
) -> DataFrame:
    """Per-category chi-squared drift terms between two snapshots of a
    categorical column — the discrete complement to
    :func:`population_stability_index` (which bins numerics):
    ``expected`` is the current total allocated by the BASE category
    proportions, and ``chi2_term = (n_curr - expected)^2 / expected``;
    ``sum(chi2_term)`` is the classical test statistic with
    ``n_categories - 1`` degrees of freedom.

    Categories seen in only one snapshot still get a row (full outer
    join on category, zero-filled): a category newly appearing is
    exactly the drift a monitor must not drop. Its base proportion is
    floored at ``epsilon`` (same convention as PSI's empty-bin floor)
    so the term is large-but-finite instead of a division by zero.
    NULL categories are kept as a real category (labelled in-band by
    COALESCE to the sentinel '__null__'): a surging null rate IS
    distribution drift for a categorical, unlike a numeric's ECDF
    where NULL has no position.

    Cost shape: each side reduces to one grouped count (map-side
    combined) whose cardinality is the category count, a broadcast-safe
    full outer join, and a 1-row totals broadcast — the same two-scan
    shape as PSI, no corpus-sized state anywhere.
    """
    cat = lambda d: d.select(  # noqa: E731
        F.coalesce(F.col(col).cast("string"), F.lit("__null__")).alias("category")
    )
    nb = cat(df_base).groupBy("category").agg(
        F.count("*").cast("long").alias("n_base")
    )
    nc = cat(df_curr).groupBy("category").agg(
        F.count("*").cast("long").alias("n_curr")
    )
    joined = (
        nb.join(nc, "category", "full_outer")
        .select(
            "category",
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
            F.coalesce("n_curr", F.lit(0)).alias("n_curr"),
        )
    )
    totals = joined.agg(
        F.sum("n_base").cast("double").alias("_tb"),
        F.sum("n_curr").cast("double").alias("_tc"),
    )
    p_base = F.greatest(F.col("n_base") / F.col("_tb"), F.lit(epsilon))
    expected = F.col("_tc") * p_base
    return (
        joined.crossJoin(F.broadcast(totals))
        .select(
            "category",
            "n_base",
            "n_curr",
            F.round(expected + 1e-9, 6).alias("expected"),
            # squared by self-multiplication, not pow(): bit-identical
            # across engines, pow(x, 2.0) is not guaranteed to be
            F.round(
                (F.col("n_curr") - expected)
                * (F.col("n_curr") - expected)
                / expected
                + 1e-9,
                6,
            ).alias("chi2_term"),
        )
        .orderBy("category")
    )


def _require_group_cols(
    df: DataFrame, group_cols: list[str] | None, op: str
) -> list[str]:
    """Validate grouping columns up front: a typo'd name must raise,
    not silently fall back to a global (or partially-grouped) result
    that looks plausible and is wrong."""
    groups = list(group_cols or [])
    missing = [c for c in groups if c not in df.columns]
    if missing:
        raise ValueError(f"{op}: group columns not in the frame: {missing}")
    return groups


def _null_safe_group_join(
    left: DataFrame, right: DataFrame, groups: list[str], how: str = "inner"
) -> DataFrame:
    """Join per-group stats back onto rows with NULL-SAFE key equality
    (a NULL group key is a real group; plain equi-joins silently drop
    its rows). ``right``'s group columns are renamed before the join —
    both frames share lineage, so same-named/same-id columns would
    trip Spark's ambiguous-self-join detection — then dropped. The
    right side's PAYLOAD (stat) columns keep their names, so a left
    frame that already carries one of them would yield duplicate
    column names and a downstream ambiguous-reference failure — that
    collision is rejected up front with a clear error instead."""
    clash = [c for c in right.columns if c not in groups and c in left.columns]
    if clash:
        raise ValueError(
            "null-safe group join: internal stat column name(s) "
            f"{clash} already exist on the input frame — rename those "
            "input columns before profiling"
        )
    if not groups:
        return left.crossJoin(F.broadcast(right))
    renamed = right.select(
        *[F.col(c).alias(f"_g_{c}") for c in groups],
        *[c for c in right.columns if c not in groups],
    )
    cond = None
    for c in groups:
        e = F.col(c).eqNullSafe(F.col(f"_g_{c}"))
        cond = e if cond is None else (cond & e)
    return left.join(F.broadcast(renamed), cond, how).drop(
        *[f"_g_{c}" for c in groups]
    )


def robust_profile(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    k: float = 1.5,
    approx: bool = False,
    round_digits: int = 4,
) -> DataFrame:
    """Outlier-resistant per-group profile: median, quartiles, MAD
    (median absolute deviation) and Tukey-fence outlier counts — the
    robust sibling of the mean/stddev z-score monitor, which a single
    corrupted feed can silently re-center (every breakdown statistic
    here tolerates up to 50% contamination).

    Exactly TWO scans of the fact regardless of group count: pass 1
    aggregates (q1, median, q3, n) per group; pass 2 joins those rows
    back (a broadcast — the group dimension is tiny by construction)
    and computes, in ONE aggregation, the MAD (median of |x - median|)
    and the count outside the Tukey fences [q1 - k*IQR, q3 + k*IQR].
    The fences depend only on pass-1 stats, so outlier classification
    fuses into the MAD pass instead of costing a third scan.

    ``approx=True`` swaps exact ``percentile`` (sort-based per group —
    the oracle-comparable path) for ``approx_percentile`` t-digest
    sketches (map-side combinable, the 100 TB path; same envelope
    contract as column_profile). NULL values carry no evidence either
    way and are excluded from n and every statistic. A NULL GROUP KEY
    is a real group (often exactly the corrupted-feed segment this
    monitor watches) — the pass-2 join is null-safe so its row appears
    in the profile. A ``group_cols`` name missing from the frame
    raises (a typo'd config must not silently degrade to a merged
    profile)."""
    groups = _require_group_cols(df, group_cols, "robust_profile")
    v = F.col(value_col)
    base = df.filter(v.isNotNull())
    pct = (
        (lambda c, p: F.approx_percentile(c, p, 10000))
        if approx
        else F.percentile
    )
    # every internal pass-1 alias is underscore-prefixed (the final
    # select restores the public "n") so the only names the pass-2
    # join's clash guard can reject are genuinely internal ones — a
    # user frame carrying a column named "n" is common and must profile
    stats = base.groupBy(*groups).agg(
        F.count(v).alias("_n"),
        pct(v, 0.25).alias("_q1"),
        pct(v, 0.5).alias("_med"),
        pct(v, 0.75).alias("_q3"),
    )
    joined = _null_safe_group_join(base, stats, groups)
    iqr = F.col("_q3") - F.col("_q1")
    lo = F.col("_q1") - F.lit(k) * iqr
    hi = F.col("_q3") + F.lit(k) * iqr
    out = joined.groupBy(*groups).agg(
        F.first("_n").alias("n"),
        F.round(F.first("_med") + F.lit(1e-9), round_digits).alias("median"),
        F.round(F.first("_q1") + F.lit(1e-9), round_digits).alias("q1"),
        F.round(F.first("_q3") + F.lit(1e-9), round_digits).alias("q3"),
        F.round(
            pct(F.abs(v - F.col("_med")), 0.5) + F.lit(1e-9), round_digits
        ).alias("mad"),
        F.sum(((v < lo) | (v > hi)).cast("long")).alias("n_outliers"),
    )
    return out.withColumn(
        "outlier_frac",
        F.round(F.col("n_outliers") / F.col("n") + F.lit(1e-9), round_digits),
    )


def rolling_psi_drift(
    df: DataFrame,
    ts_col: str,
    col: str,
    num_bins: int = 10,
    approx: bool = False,
    epsilon: float = 1e-4,
) -> DataFrame:
    """Day-over-day Population Stability Index time series — the
    TEMPORAL drift monitor: one PSI total per calendar day scored
    against the previous calendar day, flagging WHEN a feed's
    distribution moved (:func:`population_stability_index` answers
    whether two chosen snapshots differ; a daily pipeline wants the
    whole trend without picking snapshots by hand).

    Binning convention differs from the two-snapshot operator
    deliberately: edges are the WHOLE WINDOW's ``num_bins``-quantiles
    (one 1-row aggregate, broadcast), not each day's — every
    day-over-day comparison then shares a single bucketization, so the
    series is comparable across days and, crucially, the whole
    operator is TWO scans of the fact — one 1-row quantile aggregate
    for the edges, then bucket (narrow codegen) →
    (day, bin) grouped counts → a days x bins scaffold join → one
    tiny self-join of the per-day histogram against calendar day - 1.
    Scoring each day against its predecessor's own quantiles would
    cost a scan per day or a giant per-day percentile shuffle. Days
    with no previous CALENDAR day (gaps) emit no row — a gap day has
    no adjacent baseline to drift from. NULL values carry no position
    and are excluded; ``approx=True`` swaps the exact interpolated
    percentile for the KLL sketch at scale (same convention as
    :func:`population_stability_index`). psi = sum over bins of
    (p_curr - p_prev) * ln(p_curr / p_prev), probabilities floored at
    ``epsilon``.
    """
    if num_bins < 2:
        raise ValueError("rolling_psi_drift: num_bins must be >= 2")
    vals = df.select(
        F.to_date(F.col(ts_col)).alias("_day"),
        F.col(col).cast("double").alias("_v"),
    ).filter(F.col("_v").isNotNull() & F.col("_day").isNotNull())
    # edges from the SAME day-filtered values (a NULL-day row carries
    # no position in the series, so it must not move the edges either
    # — hist_edges has no day column and can't make that cut)
    bounds = _quantile_edges(vals, num_bins, approx)
    counts = (
        vals.join(F.broadcast(bounds))
        .select("_day", _hist_bucket().alias("bin"))
        .groupBy("_day", "bin")
        .agg(F.count("*").cast("long").alias("n"))
    )
    return _psi_series(counts, num_bins, epsilon)


def _quantile_edges(vals: DataFrame, num_bins: int, approx: bool) -> DataFrame:
    """1-row frame ``_bs``: the ``num_bins``-quantile edges of a ``_v``
    column — the exact interpolated percentile, or the mergeable KLL
    sketch with ``approx=True``."""
    qs = [i / num_bins for i in range(1, num_bins)]
    fn = F.percentile_approx("_v", qs, 10000) if approx else F.percentile("_v", qs)
    return vals.agg(fn.alias("_bs"))


def _hist_bucket() -> Column:
    """Bin index of a ``_v`` value under a broadcast ``_bs`` edge
    array: the count of edges strictly below the value (strict-``>``
    boundary convention — a value equal to an edge falls in the lower
    bin), matching DuckDB ``len(list_filter(bs, e -> v > e))``."""
    return F.aggregate(
        F.col("_bs"),
        F.lit(0),
        lambda acc, b: acc + F.when(F.col("_v") > b, 1).otherwise(0),
    ).cast("int")


def _psi_series(counts: DataFrame, num_bins: int, epsilon: float) -> DataFrame:
    """Shared PSI tail of :func:`rolling_psi_drift` and
    :func:`psi_from_hist_state`: (_day, bin, n) per-day histogram rows
    → one PSI total per day scored against calendar day - 1. Dense
    days x bins scaffold (a day missing a bin is n=0, not absent), so
    the day-1 self-join never drops a bin pair; gap days (no previous
    calendar day) emit no row. The scaffold is range(num_bins) UNION
    the bins actually observed — a state carrying bins >= num_bins
    (edges pinned under a larger family than the caller's num_bins)
    keeps its mass instead of being silently dropped by a too-small
    scaffold, and phantom scaffold rows are harmless (a bin with zero
    mass on both days floors to epsilon on both sides and contributes
    exactly 0 to the PSI sum). All inputs here are day x bin sized —
    the fact never reaches this tail."""
    days = counts.select("_day").dropDuplicates()
    bins = (
        counts.sparkSession.range(num_bins)
        .select(F.col("id").cast("int").alias("bin"))
        .unionByName(counts.select("bin"))
        .dropDuplicates()
    )
    hist = (
        days.crossJoin(F.broadcast(bins))
        .join(counts, ["_day", "bin"], "left")
        .select("_day", "bin", F.coalesce("n", F.lit(0)).alias("n"))
    )
    curr = hist.select(
        F.col("_day").alias("day"), "bin", F.col("n").alias("n_curr")
    )
    prev = hist.select(
        F.date_add(F.col("_day"), 1).alias("day"),
        "bin",
        F.col("n").alias("n_prev"),
    )
    joined = curr.join(prev, ["day", "bin"])
    p_prev = F.greatest(
        F.col("n_prev") / F.sum("n_prev").over(Window.partitionBy("day")),
        F.lit(epsilon),
    )
    p_curr = F.greatest(
        F.col("n_curr") / F.sum("n_curr").over(Window.partitionBy("day")),
        F.lit(epsilon),
    )
    term = (p_curr - p_prev) * F.log(p_curr / p_prev)
    per_day = joined.select(
        "day",
        F.col("n_prev"),
        F.col("n_curr"),
        term.alias("_t"),
    ).groupBy("day").agg(
        F.sum("n_prev").cast("long").alias("n_prev"),
        F.sum("n_curr").cast("long").alias("n_curr"),
        F.round(F.sum("_t") + F.lit(1e-12), 6).alias("psi"),
    )
    return per_day.select(
        "day",
        "n_prev",
        "n_curr",
        "psi",
        (F.col("psi") > 0.25).alias("shifted"),
        ((F.col("psi") > 0.1) & (F.col("psi") <= 0.25)).alias("drifting"),
    )


def hist_edges(
    df: DataFrame, col: str, num_bins: int = 10, approx: bool = False
) -> DataFrame:
    """The PINNED bucketization of a histogram state store: a 1-row
    frame (``_bs``: array of the ``num_bins``-quantile edges of
    ``col``) — compute it ONCE from the bootstrap/reference window and
    persist it next to the counts. The store contract mirrors the
    band-state families (minhash_band_state, embedding_band_state):
    edges are part of the schema — counts bucketed under different
    edges never compare, so every append cycle re-reads the SAME
    persisted edge row. A distribution that outgrows its edges (mass
    piling into the open-end bins) is DETECTED by
    :func:`hist_edges_drift` — the store's certified self-policing
    guard — and recovers by re-bootstrapping here on a fresh reference
    window and re-binning with :func:`rebin_hist_state` (the stitched
    PSI reader, :func:`stitched_psi`, keeps the series unbroken across
    the seam). ``approx=True`` uses the KLL sketch at scale; both are
    one 1-row aggregate."""
    if num_bins < 2:
        raise ValueError("hist_edges: num_bins must be >= 2")
    vals = df.select(F.col(col).cast("double").alias("_v")).filter(
        F.col("_v").isNotNull()
    )
    return _quantile_edges(vals, num_bins, approx)


def hist_state(
    df: DataFrame, ts_col: str, col: str, edges: "DataFrame | list[float]"
) -> DataFrame:
    """The appendable histogram-state rows of a batch: (day, bin, n)
    counts of ``col`` under the PINNED ``edges``
    (:func:`hist_edges`) — ONE narrow scan of the batch (validated
    literal edge array → bin expression → grouped count), nothing
    else. This is
    the drift-monitoring sibling of the corpus gram state
    (text.corpus_gram_state) and the incremental answer to
    :func:`rolling_psi_drift`'s two full-fact scans: bootstrap the
    edges once, append each ingestion cycle's (day, bin, n) rows to a
    persisted state table, and score drift from the state alone
    (:func:`psi_from_hist_state`) — no historical fact row is ever
    re-read. Appends are MERGEABLE by construction: duplicate
    (day, bin) rows from multiple appends of the same day (late data,
    replays of disjoint slices) sum in the reader. At cluster scale
    the state table is days x bins rows — trivially small — so the
    only per-cycle cost is the batch scan itself. NULL values and
    NULL days carry no position and are excluded, matching
    rolling_psi_drift.

    The edges frame is VALIDATED before it touches the batch: it must
    be exactly one row (an edge store accidentally re-bootstrapped with
    mode('append') carries two — cross-applying both would silently
    multiply every count and corrupt the PSI series) and its ``_bs``
    array must be non-NULL (a bootstrap window that filtered to zero
    values propagates a NULL edge array, whose NULL bins the PSI
    equi-joins would silently drop — all mass lost with no error).
    Both corruptions raise here with the fix spelled out. The validated
    edges inline as a literal array, so the batch plan is one narrow
    scan with no join at all; an already-collected edge LIST is also
    accepted (collect the store once per cycle, share across the
    readers)."""
    bs = _pinned_edges(edges, "hist_state")
    vals = df.select(
        F.to_date(F.col(ts_col)).alias("day"),
        F.col(col).cast("double").alias("_v"),
    ).filter(F.col("_v").isNotNull() & F.col("day").isNotNull())
    return (
        vals.withColumn("_bs", F.lit(bs))
        .select("day", _hist_bucket().alias("bin"))
        .groupBy("day", "bin")
        .agg(F.count("*").cast("long").alias("n"))
    )


def _pinned_edges(edges, op: str) -> list[float]:
    """Validate and materialize a pinned edge store (1-row ``_bs``
    frame from :func:`hist_edges`, or an already-collected edge list —
    a loop that runs several state readers per cycle collects once and
    passes the list through) into a literal float list. Raises on a
    multi-row store (an accidental mode('append') re-bootstrap would
    silently multiply every count) and on a NULL array (a bootstrap
    window that filtered to zero values — its NULL bins would be
    silently dropped by the PSI equi-joins). The 1-row collect is a
    bootstrap-store read, trivially cheap at any scale."""
    if isinstance(edges, (list, tuple)):
        if not edges:
            raise ValueError(f"{op}: the edge list is empty")
        return [float(b) for b in edges]
    head = edges.select("_bs").limit(2).collect()
    if len(head) != 1:
        raise ValueError(
            f"{op}: the edges frame has {len(head)} rows, must be "
            "exactly 1 — a multi-row edge store was re-bootstrapped with "
            "mode('append'); rewrite it with mode('overwrite') from a "
            "single hist_edges call"
        )
    bs = head[0]["_bs"]
    if bs is None:
        raise ValueError(
            f"{op}: the edges row carries a NULL _bs array — hist_edges "
            "was bootstrapped from an empty or all-NULL window; "
            "re-bootstrap from a window that actually has values"
        )
    return [float(b) for b in bs]


def psi_from_hist_state(
    state: DataFrame, num_bins: int = 10, epsilon: float = 1e-4
) -> DataFrame:
    """Day-over-day PSI series computed ENTIRELY from persisted
    histogram-state rows (:func:`hist_state`) — the fact table is
    never touched. Same output contract as :func:`rolling_psi_drift`
    (day, n_prev, n_curr, psi, shifted, drifting; gap days emit no
    row; probabilities floored at ``epsilon``), and EQUAL to it when
    the state covers the same window under whole-window edges (the
    shared :func:`_psi_series` tail makes that structural, and the
    equivalence is pytest-pinned). Duplicate (day, bin) rows — late
    data appended to an existing day — are summed first, which is what
    makes the store append-only: no read-modify-write, ever. A
    ``num_bins`` smaller than the edge family the state was built
    under cannot drop mass: the scaffold unions the observed bins
    (:func:`_psi_series`), so the series comes out right even on a
    mismatched call — but pass the store's real bin count anyway; the
    dense-zero floor below ``num_bins`` is what keeps a day that lost
    a whole bin scored against it. Input is days x bins sized, so
    this whole query is broadcast-tiny at any corpus scale; the
    monitoring loop's per-cycle cost is pinned to the BATCH scan in
    :func:`hist_state`, not to history (measured in SCALE.md §6i)."""
    counts = state.groupBy(
        F.col("day").alias("_day"), "bin"
    ).agg(F.sum("n").cast("long").alias("n"))
    return _psi_series(counts, num_bins, epsilon)


#: public name for collecting/validating a pinned edge store once per
#: cycle and passing the list to every reader in the family
pinned_edges = _pinned_edges


def hist_edges_drift(
    state: DataFrame,
    num_bins: int = 10,
    threshold: float = 0.4,
    edges: "DataFrame | list[float] | None" = None,
) -> DataFrame:
    """The histogram store's SELF-POLICING guard: per-day share of mass
    landing in the two open-end terminal bins of the pinned edge family
    (:func:`hist_edges`), flagged when it exceeds ``threshold`` — the
    signal that the monitored distribution has OUTGROWN its bootstrap
    edges and the store needs the re-bootstrap the edge contract
    prescribes — implemented, not just prescribed: recompute
    :func:`hist_edges` on a fresh reference window, re-bin with
    :func:`rebin_hist_state` (the one honest bounded fact rescan),
    and keep the PSI series unbroken across the family seam with
    :func:`stitched_psi`. Terminal bins are unbounded (bin 0 is
    (-inf, e_0], bin ``num_bins``-1 is (e_last, +inf)), so mass that
    drifts past either end piles into them invisibly: PSI keeps scoring
    — two shifted days can even look alike — while its resolution over
    the drifted region is gone. Under quantile bootstrap edges each
    terminal bin starts near 1/num_bins of the mass, so the default
    threshold 0.4 is ~2x the 10-bin bootstrap expectation of 0.2; tune
    it to the false-positive cost of a re-bootstrap pass (the same
    alert-on-degradation contract as the cycle-metric monitors).
    Reads ONLY state rows (days x bins — broadcast-tiny at any corpus
    scale); output one row per day: (day, n_total, n_edge, edge_share,
    re_bootstrap). PASS ``edges`` (the store's edge frame, or the
    already-collected list) whenever it is at hand: the bin count is
    then DERIVED from the pinned family and cannot be wrong. With only
    ``num_bins``, both mismatch directions are dangerous and only one
    is detectable from state alone: bins past ``num_bins``-1 raise as
    a family mismatch (num_bins too small), but a ``num_bins`` LARGER
    than the store's family is indistinguishable from legitimately
    empty top bins — the true upper terminal bin would be misread as
    interior and the guard silently defused — so state-only calls must
    pass the store's real bin count."""
    if edges is not None:
        num_bins = len(_pinned_edges(edges, "hist_edges_drift")) + 1
    if num_bins < 2:
        raise ValueError("hist_edges_drift: num_bins must be >= 2")
    overflow = state.filter(F.col("bin") > num_bins - 1).limit(1).count()
    if overflow:
        raise ValueError(
            f"hist_edges_drift: the state has bin indexes past "
            f"num_bins-1={num_bins - 1} — it was built under a larger "
            "edge family; pass the store's real bin count"
        )
    per_day = state.groupBy("day").agg(
        F.sum("n").cast("long").alias("n_total"),
        F.sum(
            F.when(
                (F.col("bin") == 0) | (F.col("bin") == num_bins - 1),
                F.col("n"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_edge"),
    )
    share = F.col("n_edge") / F.col("n_total")
    return per_day.select(
        "day",
        "n_total",
        "n_edge",
        F.round(share + F.lit(1e-9), 6).alias("edge_share"),
        (share > F.lit(threshold)).alias("re_bootstrap"),
    )


def rebin_hist_state(
    fact: DataFrame,
    ts_col: str,
    col: str,
    new_edges: "DataFrame | list[float]",
    since_day: str,
    old_state: "DataFrame | None" = None,
) -> DataFrame:
    """The TRANSITION operator of the histogram-state family: when
    :func:`hist_edges_drift` fires (mass has outgrown the pinned
    edges), re-bootstrap :func:`hist_edges` on a fresh reference
    window and call this to produce the NEW-family state rows that
    continue the store from ``since_day`` (the seam: the first day to
    be scored under the new family) onward. Re-binning is IMPOSSIBLE
    from (day, bin, n) state alone — a bin's mass cannot be
    redistributed to new bins without the underlying values — so this
    is the family's one honest fact rescan, and it is bounded: only
    days >= ``since_day`` - 1 are read (the extra day is deliberate —
    it is the BASELINE the seam day's day-over-day PSI row needs under
    the new family; see :func:`stitched_psi`, which refuses to stitch
    without it). Days before the seam keep their old-family rows in
    the old store, frozen; the returned rows start a NEW store under
    the new edges (one store = one edge family, the same contract that
    makes :func:`hist_state` appends mergeable) and subsequent cycles
    append to it with plain ``hist_state(batch, ..., new_edges)``.

    Pass ``old_state`` to get the MASS-CONSERVATION validation: for
    every day both sides cover (the overlap day, plus any drifted days
    the old store kept accumulating past the seam), the rescan's
    per-day total must equal the old state's — the same values
    bucketed under any edge family preserve their count. A mismatch
    raises: it means the fact no longer holds what the state recorded
    (a retention window already deleted the seam-adjacent days — the
    rescan would silently produce PARTIAL counts and the stitched PSI
    would score a phantom drop — or late data landed after the old
    state was written; either way the seam must move or the fact must
    be repaired before the transition is trustworthy). The check
    compares day-total aggregates (days x 1 rows, broadcast-tiny),
    and the returned rows come back checkpointed in this mode
    (:func:`~..eager.materialize`): the days x bins result (tiny) is
    executed once, so the check's collect and the caller's
    materialization — the store write, the stitched read — reuse it
    instead of rescanning the slice a second time (the rescan is the
    transition's one data-sized term; measured in SCALE.md §6i
    addendum). Nothing is left in the session's cache.

    Reference anchor: the alert→recovery pairing of the monitor
    contract (production_monitor.py:84-125 pairs every threshold with
    an action) — hist_edges_drift is the alert, this is the action."""
    seam = F.lit(str(since_day)).cast("date")
    start = F.date_sub(seam, 1)
    # Catalyst rewrites this day-boundary predicate into a pushed
    # timestamp range (PushedFilters: ts >= baseline 00:00), so on a
    # date-ordered or date-partitioned fact the rescan reads only the
    # seam window's row groups / partitions — the boundedness the
    # docstring claims is in the scan, not just the filter
    sliced = fact.filter(F.to_date(F.col(ts_col)) >= start)
    new_rows = hist_state(sliced, ts_col, col, new_edges)
    if old_state is not None:
        # materialize the (tiny) days x bins result before the check's
        # collect reads it, so the caller's own materialization reuses
        # this execution instead of paying the rescan twice
        new_rows = materialize(new_rows)
        # LEFT join from the OLD side: a day the old state recorded but
        # the rescan produced nothing for (retention already deleted
        # it) is the worst violation, and an inner join would silently
        # skip exactly that day; days only the rescan covers are fine
        # (the old store simply had not appended them yet)
        mism = (
            old_state.filter(F.col("day") >= start)
            .groupBy("day")
            .agg(F.sum("n").cast("long").alias("_n_old"))
            .join(
                new_rows.groupBy("day")
                .agg(F.sum("n").cast("long").alias("_n_new")),
                "day",
                "left",
            )
            .withColumn("_n_new", F.coalesce("_n_new", F.lit(0)))
            .filter(F.col("_n_new") != F.col("_n_old"))
            .select("day", "_n_old", "_n_new")
            .limit(1)
            .collect()
        )
        if mism:
            r = mism[0]
            raise ValueError(
                f"rebin_hist_state: day {r['day']} has {r['_n_new']} "
                f"values in the fact but {r['_n_old']} in the old state "
                "— re-binning preserves per-day mass under ANY edge "
                "family, so the fact no longer holds what the state "
                "recorded (retention already deleted seam-adjacent "
                "rows, or late data landed after the old state was "
                "written); move the seam inside the fact's retention "
                "window, or repair the fact, before transitioning"
            )
    return new_rows


def stitched_psi(
    old_state: DataFrame,
    new_state: DataFrame,
    seam_day: str,
    old_edges: "DataFrame | list[float] | None" = None,
    new_edges: "DataFrame | list[float] | None" = None,
    old_num_bins: int = 10,
    new_num_bins: int = 10,
    epsilon: float = 1e-4,
) -> DataFrame:
    """Day-over-day PSI series ACROSS an edge-family seam — the
    stitched reader that completes the re-bootstrap transition
    (:func:`hist_edges_drift` alerts → :func:`rebin_hist_state`
    re-bins → this keeps the monitoring series unbroken). Days before
    ``seam_day`` score from the frozen old-family store; days from
    ``seam_day`` onward score from the new-family store. The PINNED
    RULE for the straddling row (``seam_day`` itself, whose baseline
    day lives before the seam): it is scored under the NEW family —
    the family that covers BOTH days, because ``rebin_hist_state``
    deliberately rescans from ``seam_day`` - 1 — never by comparing
    bin indexes across families (bin i means a different interval
    under each edge list, so a cross-family join would score pure
    noise as drift). If the new store lacks the baseline day this
    REFUSES to stitch rather than silently emitting a gap where the
    seam row should be: a monitoring series that loses exactly the
    day of its own re-bootstrap would mask the one transition it
    exists to survive.

    ``old_edges`` / ``new_edges`` derive each side's bin count from
    the pinned family when at hand (the mismatch-proof path, exactly
    :func:`hist_edges_drift`'s rule); otherwise pass each store's real
    ``*_num_bins``. Output is the :func:`psi_from_hist_state` contract
    plus ``edge_family`` ('old' | 'new' — which family scored the
    row); gap days emit no row, duplicate (day, bin) appends sum, and
    every input is days x bins sized, so the whole stitch is
    broadcast-tiny at any corpus scale."""
    if old_edges is not None:
        old_num_bins = len(_pinned_edges(old_edges, "stitched_psi")) + 1
    if new_edges is not None:
        new_num_bins = len(_pinned_edges(new_edges, "stitched_psi")) + 1
    seam = F.lit(str(seam_day)).cast("date")
    baseline = F.date_sub(seam, 1)
    if not new_state.filter(F.col("day") == baseline).limit(1).count():
        raise ValueError(
            f"stitched_psi: the new-family state has no rows for the "
            f"baseline day (the day before {seam_day!r}) — the seam "
            "row's day-over-day PSI needs both days under ONE family; "
            "rebin_hist_state rescans from the baseline day for "
            "exactly this reason, so re-bin from there (or move the "
            "seam to the first day the new store can baseline)"
        )
    old_series = (
        psi_from_hist_state(old_state, old_num_bins, epsilon)
        .filter(F.col("day") < seam)
        .withColumn("edge_family", F.lit("old"))
    )
    new_series = (
        psi_from_hist_state(
            new_state.filter(F.col("day") >= baseline), new_num_bins, epsilon
        )
        .filter(F.col("day") >= seam)
        .withColumn("edge_family", F.lit("new"))
    )
    return old_series.unionByName(new_series)


def quantiles_from_hist_state(
    state: DataFrame,
    edges: "DataFrame | list[float]",
    qs: list[float] = (0.25, 0.5, 0.75),
    round_digits: "int | None" = 6,
    per_day: bool = False,
) -> DataFrame:
    """Quantile estimates merged ENTIRELY from persisted histogram
    state (:func:`hist_state`) — the percentile companion the moments
    store (:func:`profile_state`) explicitly defers to "sketch
    territory": the pinned-edges histogram IS a mergeable quantile
    sketch whose error is bounded by bin geometry, so the incremental
    profile loop can answer quantile questions without ever rescanning
    a fact row.

    For each ``q``: total the state's per-bin mass (duplicate
    (day, bin) appends sum, same merge rule as the PSI reader), take
    the cumulative fraction at each edge — exact by the strict-``>``
    bucketing, cum mass through bin i is exactly the count of values
    <= e_i — pick the first bin whose cumulative fraction reaches
    ``q``, and linearly interpolate within that bin's edge interval.
    The TRUE quantile provably lies in the same interval
    ([lo_edge, hi_edge] of the picked bin), so the estimate's error is
    bounded by the bin width; terminal bins are open-ended and bound
    one side only (lo_edge/hi_edge NULL there, estimate clamped to the
    known edge) — if mass has drifted into them, that is exactly what
    :func:`hist_edges_drift` flags for re-bootstrap. Output one row per
    q: (q, bin, lo_edge, hi_edge, estimate), everything from days x
    bins state rows + the 1-row edge store — broadcast-tiny at any
    corpus scale. ``round_digits=None`` emits the RAW doubles (bound
    checks must compare those — rounding can collapse a strict
    inequality to equality); an already-collected edge list is
    accepted like everywhere in this family. The certified twin
    (``hist_percentiles``) pins the containment bound against the
    exact in-query percentile, the ann_recall bounded-oracle
    pattern.

    ``per_day=True`` answers at the family's MONITORING grain: one
    row per (day, q) — a daily p50/p90 series from state rows alone,
    the natural drift companion to the PSI series (PSI says the shape
    moved; the daily quantile series says where). Identical cumulative
    arithmetic per day; days x qs output, still broadcast-tiny; the
    certified series twin is ``hist_percentiles_daily``."""
    qs = [float(q) for q in qs]
    if not qs or any(not (0.0 < q < 1.0) for q in qs):
        raise ValueError(
            f"quantiles_from_hist_state: every q must be in (0, 1), got {qs}"
        )
    bs = _pinned_edges(edges, "quantiles_from_hist_state")
    k = len(bs) + 1  # bin count of the pinned family
    overflow = state.filter(F.col("bin") > k - 1).limit(1).count()
    if overflow:
        raise ValueError(
            "quantiles_from_hist_state: the state has bin indexes past "
            f"the pinned family's last bin ({k - 1}) — it was built "
            "under different edges; state and edge store must share one "
            "bootstrap"
        )
    spark = state.sparkSession
    part = ["day"] if per_day else []
    merged = state.groupBy(*part, "bin").agg(
        F.sum("n").cast("double").alias("n")
    )
    w = (
        Window.partitionBy(*part)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = (
        Window.partitionBy(*part)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    cum = merged.select(
        *part,
        "bin",
        (F.sum("n").over(w) / F.sum("n").over(wall)).alias("cf"),
    ).withColumn(
        "pcf",
        F.coalesce(
            F.lag("cf").over(Window.partitionBy(*part).orderBy("bin")),
            F.lit(0.0),
        ),
    )
    qdf = spark.range(1).select(
        F.explode(F.array(*[F.lit(q) for q in qs])).alias("q")
    )
    picked = (
        cum.crossJoin(F.broadcast(qdf))
        .filter(F.col("cf") >= F.col("q"))
        .groupBy(*part, "q")
        .agg(F.min("bin").alias("bin"))
    )
    est = picked.join(F.broadcast(cum), [*part, "bin"])
    bsl = F.lit(bs)
    lo = F.when(F.col("bin") >= 1, F.element_at(bsl, F.col("bin").cast("int")))
    hi = F.when(
        F.col("bin") <= k - 2,
        F.element_at(bsl, (F.col("bin") + 1).cast("int")),
    )
    interp = lo + (hi - lo) * (F.col("q") - F.col("pcf")) / (
        F.col("cf") - F.col("pcf")
    )
    estimate = (
        F.when(F.col("bin") == 0, hi)
        .when(F.col("bin") == k - 1, lo)
        .otherwise(interp)
    )
    if round_digits is None:  # raw values — bound checks compare these
        r = lambda c: c  # noqa: E731
    else:
        r = lambda c: F.round(c + F.lit(1e-9), round_digits)  # noqa: E731
    return est.select(
        *part,
        "q",
        F.col("bin").cast("int").alias("bin"),
        r(lo).alias("lo_edge"),
        r(hi).alias("hi_edge"),
        r(estimate).alias("estimate"),
    )


def profile_state(
    df: DataFrame, ts_col: str, columns: list[str]
) -> DataFrame:
    """The appendable MOMENTS-profile rows of a batch: one row per
    (day, column) with the mergeable sufficient statistics
    (n_rows, n_null, sum_v, sum_sq, min_v, max_v) — the incremental
    sibling of :func:`column_profile` for the stats that merge exactly
    (count / mean / std / min / max). ONE narrow scan of the batch:
    a single grouped aggregation with every column's moments as
    aliased aggregates, reshaped to rows with an array-of-structs
    explode (column_profile's pass shape, grouped by day).

    The store contract is lighter than the histogram state's — moments
    need no pinned edges — but the same append-only mechanics hold:
    duplicate (day, column) rows from multiple appends of the same day
    merge in the reader (sums add, min/min and max/max), so late data
    never needs a read-modify-write. Rows are RAW moments on purpose:
    rounding belongs to the reading side (:func:`profile_from_state`),
    never to state that will be merged again. Non-numeric columns
    carry real n_rows/n_null and NULL moments (column_profile's
    convention); NULL days are excluded (no position in a daily
    store); a column name missing from the frame raises. What does
    NOT merge here: distinct counts (the mergeable HLL loop in
    operators.merge.incremental_distinct covers them) and percentiles
    — for those, :func:`quantiles_from_hist_state` reads bounded-error
    quantile estimates straight out of the pinned-edges histogram
    state, and the one-shot :func:`column_profile`
    (``exact_distinct=False, approx_percentiles=True``) remains the
    fact-scan path.
    """
    from pyspark.sql.types import NumericType

    missing = [c for c in columns if c not in df.columns]
    if missing:
        raise ValueError(f"profile_state: columns not in the frame: {missing}")
    base = df.select(
        F.to_date(F.col(ts_col)).alias("day"), *columns
    ).filter(F.col("day").isNotNull())
    aggs = [F.count("*").cast("long").alias("__n")]
    for i, c in enumerate(columns):
        numeric = isinstance(df.schema[c].dataType, NumericType)
        num = F.col(c).cast("double") if numeric else F.lit(None).cast("double")
        aggs.extend(
            [
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                .cast("long")
                .alias(f"__null_{i}"),
                F.sum(num).alias(f"__sum_{i}"),
                F.sum(num * num).alias(f"__sq_{i}"),
                F.min(num).alias(f"__min_{i}"),
                F.max(num).alias(f"__max_{i}"),
            ]
        )
    one_row_per_day = base.groupBy("day").agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column_name"),
            F.col("__n").alias("n_rows"),
            F.col(f"__null_{i}").alias("n_null"),
            F.col(f"__sum_{i}").alias("sum_v"),
            F.col(f"__sq_{i}").alias("sum_sq"),
            F.col(f"__min_{i}").alias("min_v"),
            F.col(f"__max_{i}").alias("max_v"),
        )
        for i, c in enumerate(columns)
    ]
    return one_row_per_day.select(
        "day", F.explode(F.array(*structs)).alias("_p")
    ).select("day", "_p.*")


def profile_from_state(
    state: DataFrame, round_digits: int = 4
) -> DataFrame:
    """Global per-column profile merged ENTIRELY from persisted
    moments-state rows (:func:`profile_state`) — (column_name, n_rows,
    n_null, mean, std, min_value, max_value), no fact rescan ever.
    Sums add, mins min, maxes max; mean = sum/(n_rows - n_null) and
    std is the sample standard deviation from the raw moments
    (sqrt((sum_sq - sum²/n) / (n - 1)), clamped at 0 against float
    cancellation — fine for data whose spread is not vanishingly small
    relative to its magnitude; re-profile from the fact if you need
    digits the moment form can't carry). A column with no non-null
    values has NULL mean/std; n = 1 has NULL std. Output rounds to
    ``round_digits`` — the STATE stays raw so it can keep merging."""
    merged = state.groupBy("column_name").agg(
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.sum("n_null").cast("long").alias("n_null"),
        F.sum("sum_v").alias("_sum"),
        F.sum("sum_sq").alias("_sq"),
        F.min("min_v").alias("_min"),
        F.max("max_v").alias("_max"),
    )
    n = (F.col("n_rows") - F.col("n_null")).cast("double")
    mean = F.when(n > 0, F.col("_sum") / n)
    # the isNotNull guard matters: greatest(NULL, 0.0) is 0.0, which
    # would turn a non-numeric column's NULL moments into std = 0.0
    var = F.when(
        (n > 1) & F.col("_sq").isNotNull(),
        F.greatest(
            (F.col("_sq") - F.col("_sum") * F.col("_sum") / n) / (n - 1),
            F.lit(0.0),
        ),
    )
    r = lambda c: F.round(c + F.lit(1e-9), round_digits)  # noqa: E731
    return merged.select(
        "column_name",
        "n_rows",
        "n_null",
        r(mean).alias("mean"),
        r(F.sqrt(var)).alias("std"),
        r(F.col("_min")).alias("min_value"),
        r(F.col("_max")).alias("max_value"),
    )


def robust_anomaly(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    threshold: float = 3.5,
    approx: bool = False,
) -> DataFrame:
    """Row-level robust outlier flags: the modified z-score
    0.6745 * (x - median) / MAD (Iglewicz & Hoaglin; |score| > 3.5 is
    the standard cut) — the row-level companion of
    :func:`robust_profile` and the robust sibling of the mean/stddev
    z-score monitor, whose own inputs an outlier burst corrupts.

    Two fact scans like robust_profile: one grouped aggregate for the
    median, a second joined pass aggregating the MAD, then the flag is
    a broadcast-joined narrow projection — per-row work never
    shuffles. Groups whose MAD is 0 (>= 50% identical values) have no
    robust scale to score against: their rows get a NULL score and are
    never flagged (flagging all-or-nothing on a degenerate scale is a
    policy choice the caller makes, not this operator). NULL values
    get NULL scores and no flag. EVERY input row appears in the output
    exactly once — the final stats join is LEFT and null-safe, so rows
    whose group key is NULL (or whose group has no scoreable values)
    are annotated, never dropped. A missing ``group_cols`` name
    raises. ``approx`` swaps exact percentiles for t-digest sketches
    at scale."""
    groups = _require_group_cols(df, group_cols, "robust_anomaly")
    v = F.col(value_col).cast("double")
    base = df.filter(v.isNotNull())
    pct = (
        (lambda c, p: F.approx_percentile(c, p, 10000))
        if approx
        else F.percentile
    )
    med = base.groupBy(*groups).agg(pct(v, 0.5).alias("_med"))
    j1 = _null_safe_group_join(base, med, groups)
    mad = j1.groupBy(*groups).agg(
        F.first("_med").alias("_med"),
        pct(F.abs(v - F.col("_med")), 0.5).alias("_mad"),
    )
    j2 = _null_safe_group_join(df, mad, groups, how="left")
    score = F.when(
        v.isNotNull() & (F.col("_mad") > 0),
        F.lit(0.6745) * (v - F.col("_med")) / F.col("_mad"),
    )
    return j2.select(
        *df.columns,
        F.round(score + F.lit(1e-9), 4).alias("mod_zscore"),
        F.coalesce(F.abs(score) > threshold, F.lit(False)).alias("is_outlier"),
    )

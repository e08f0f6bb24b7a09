"""Conform operators — SURVEY.md §2.2 T1–T13 as DataFrame -> DataFrame fns.

These re-express the reference's pandas row-loop transforms as
declarative Spark plans: the per-order flatten loop becomes
``explode_outer`` (whole-stage-codegen'd, no Python in the hot path),
struct projection becomes nested-column select, and the pandas
``errors='coerce'`` casts become non-ANSI Spark casts (failure -> NULL).

Zero Python UDFs anywhere in this module — every operator survives a
100 TB scale-up because it is a narrow (per-row) transformation with no
shuffle; Catalyst pushes the surrounding filters/projections into the
parquet/JSON scan.
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


# ---------------------------------------------------------------------------
# T4/T5/T6 — safe casts (pandas to_numeric/to_datetime errors='coerce' parity)
# ---------------------------------------------------------------------------

def safe_cast(df: DataFrame, columns: dict[str, str | T.DataType]) -> DataFrame:
    """Cast each column to the given type; unparseable values -> NULL.

    Parity with the reference's ``_safe_float`` / ``_safe_int``
    (tiktok_shop_transformer.py:179-195) and
    ``pd.to_numeric/to_datetime(errors='coerce')``
    (misa_crm_transformer.py:74-104): requires ANSI mode off (set by
    session.build_spark) so cast failures return NULL, never raise.
    Columns absent from the frame are skipped — the reference's
    ``if col in df.columns`` guard for dynamic API schemas.

    String -> integer casts follow the REFERENCE contract, not Spark's:
    ``_safe_int('3.5')`` is None (Python int() of a fractional string
    raises), while Spark's non-ANSI cast truncates to 3 and DuckDB's
    TRY_CAST rounds to 4 — so non-integral strings are nulled before
    the cast (guarded by a property-based parity test). A target is a
    type name or a ``DataType``.
    """
    int_targets = {"int", "integer", "bigint", "long", "smallint", "short", "tinyint", "byte"}
    string_cols = {f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)}
    exprs = []
    for c in df.columns:
        if c in columns:
            target = columns[c]
            name = target.simpleString() if isinstance(target, T.DataType) else target
            src = F.col(c)
            if name.lower() in int_targets and c in string_cols:
                src = F.when(src.rlike(r"^\s*[+-]?[0-9]+\s*$"), src)
            exprs.append(src.cast(target).alias(c))
        else:
            exprs.append(F.col(c))
    return df.select(*exprs)


def safe_numeric(df: DataFrame, cols: list[str], kind: str = "double") -> DataFrame:
    """T4 — numeric coercion list (double by default, 'int' for counts)."""
    return safe_cast(df, {c: kind for c in cols})


def safe_timestamp(df: DataFrame, cols: list[str]) -> DataFrame:
    """T5 — datetime coercion; ISO-8601 incl. trailing 'Z' parses natively
    (to_timestamp handles the reference's .replace('Z','+00:00') case,
    misa_crm_extractor.py:274)."""
    return safe_cast(df, {c: "timestamp" for c in cols})


def safe_boolean(df: DataFrame, cols: list[str]) -> DataFrame:
    """T6 — boolean coercion to the DDL's BIT contract.

    Intended semantics (BIT column): 'true'/'false'/'1'/'0' parse, other
    strings -> NULL. The reference's ``astype(bool, errors='ignore')``
    (misa_crm_transformer.py:97-104) is Python truthiness — a known
    reference bug per SURVEY §0; we implement the DDL contract.
    """
    return safe_cast(df, {c: "boolean" for c in cols})


# ---------------------------------------------------------------------------
# T7 — array -> JSON string
# ---------------------------------------------------------------------------

def array_to_json(col: str | Column) -> Column:
    """``json.dumps(attrs) if attrs else None``
    (tiktok_shop_transformer.py:134-135): empty/NULL array -> NULL,
    else JSON text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.size(c) > 0, F.to_json(c)).otherwise(F.lit(None).cast("string"))


# ---------------------------------------------------------------------------
# T8 — ETL metadata columns
# ---------------------------------------------------------------------------

def add_etl_metadata(
    df: DataFrame,
    batch_id: str | None = None,
    source: str | None = None,
) -> DataFrame:
    """Stamp etl_batch_id / etl_created_at / etl_updated_at (+ optional
    etl_source). Reference: tiktok_shop_transformer.py:169-177 (UTC),
    misa_crm_transformer.py:37-53. We standardize on UTC (session TZ).

    batch_id defaults to a fresh uuid4 per call, mirroring the
    per-transformer-instance uuid in the reference.
    """
    out = (
        df.withColumn("etl_batch_id", F.lit(batch_id or str(uuid.uuid4())))
        .withColumn("etl_created_at", F.current_timestamp())
        .withColumn("etl_updated_at", F.current_timestamp())
    )
    if source is not None:
        out = out.withColumn("etl_source", F.lit(source))
    return out


# ---------------------------------------------------------------------------
# T11 — string truncation to DDL widths
# ---------------------------------------------------------------------------

def truncate_strings(df: DataFrame, widths: dict[str, int]) -> DataFrame:
    """``astype(str).str[:n]`` per column map
    (tiktok_shop_staging_loader.py:275-288) — only string columns, only
    when present, width 0 means 'not a string, skip'."""
    string_cols = {f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)}
    exprs = []
    for c in df.columns:
        n = widths.get(c, 0)
        if n > 0 and c in string_cols:
            exprs.append(F.substring(F.col(c), 1, n).alias(c))
        else:
            exprs.append(F.col(c))
    return df.select(*exprs)


# ---------------------------------------------------------------------------
# S9-style schema alignment (column intersection + missing -> typed NULL)
# ---------------------------------------------------------------------------

def align_to_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Conform a dynamically-shaped frame to a declared staging contract.

    The reference intersects DataFrame columns with
    INFORMATION_SCHEMA.COLUMNS before insert (misa_crm_loader.py:158-171):
    extra columns are dropped, missing ones land as NULL, present ones
    are cast to the contract type under :func:`safe_cast`'s rules (a
    landed string id "3.5" is NULL, not 3). Pure projection — no
    shuffle.
    """
    present = set(df.columns)
    cast = safe_cast(df, {f.name: f.dataType for f in schema.fields if f.name in present})
    return cast.select(
        *(
            F.col(f.name) if f.name in present else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
        )
    )


# ---------------------------------------------------------------------------
# T1/T2/T3/T9 — the signature flatten transforms
# ---------------------------------------------------------------------------

def flatten_tiktok_orders(raw: DataFrame, batch_id: str | None = None) -> DataFrame:
    """Nested TikTok order -> flat order-detail rows (one per line item).

    Re-expresses the reference's per-order Python loop
    (tiktok_shop_transformer.py:39-167) as a single Spark plan:

    - T1: ``explode_outer(line_items)`` — orders with empty/missing
      line_items still emit one row with all item_* fields NULL
      (the `_get_empty_item_fields` branch, :49-53,152-167).
    - T2: order_amount.* / recipient_address.* struct projection with
      the reference's exact output names (:75-127).
    - T3/T4: item_* prefixes + safe float/int casts (:131-150,179-195).
    - T7: sales_attributes array -> JSON string, NULL when empty (:134-135).
    - T8: ETL metadata (:169-177).
    """
    oa = "order_amount"
    ra = "recipient_address"

    def money(path: str, alias: str) -> Column:
        return F.col(path).cast("double").alias(alias)

    exploded = raw.select("*", F.explode_outer("line_items").alias("_item"))

    flat = exploded.select(
        # order info — tiktok_shop_transformer.py:79-97
        F.col("order_id"),
        F.col("order_status"),
        F.col("buyer_message"),
        F.col("cancel_reason"),
        F.col("cancel_user"),
        F.col("collection_time").cast("long").alias("collection_time"),
        F.col("create_time").cast("long").alias("create_time"),
        F.col("delivery_due_time").cast("long").alias("delivery_due_time"),
        F.col("delivery_time").cast("long").alias("delivery_time"),
        F.col("fulfillment_type"),
        F.col("order_line_type"),
        F.col("payment_method"),
        F.col("payment_method_name"),
        F.col("remark"),
        F.col("request_cancel_reason"),
        F.col("split_or_combine_tag"),
        F.col("update_time").cast("long").alias("update_time"),
        F.col("warehouse_id"),
        # order amounts — :99-110
        F.col(f"{oa}.currency").alias("currency"),
        money(f"{oa}.original_shipping_fee", "original_shipping_fee"),
        money(f"{oa}.original_total_product_price", "original_total_product_price"),
        money(f"{oa}.seller_discount", "seller_discount"),
        money(f"{oa}.shipping_fee", "shipping_fee"),
        money(f"{oa}.shipping_fee_platform_discount", "shipping_fee_platform_discount"),
        money(f"{oa}.shipping_fee_seller_discount", "shipping_fee_seller_discount"),
        money(f"{oa}.subtotal_after_seller_discounts", "subtotal_after_seller_discounts"),
        money(f"{oa}.tax_amount", "tax_amount"),
        money(f"{oa}.total_amount", "total_amount"),
        # recipient — :112-127
        F.col(f"{ra}.detail").alias("recipient_address_detail"),
        F.col(f"{ra}.region_code").alias("recipient_address_region_code"),
        F.col(f"{ra}.state").alias("recipient_address_state"),
        F.col(f"{ra}.city").alias("recipient_address_city"),
        F.col(f"{ra}.town").alias("recipient_address_town"),
        F.col(f"{ra}.district").alias("recipient_address_district"),
        F.col(f"{ra}.zipcode").alias("recipient_address_zipcode"),
        F.col(f"{ra}.name").alias("recipient_name"),
        F.col(f"{ra}.phone").alias("recipient_phone"),
        F.col(f"{ra}.phone_number").alias("recipient_phone_number"),
        # item — :131-150
        F.col("_item.product_id").alias("item_id"),
        F.col("_item.product_name").alias("item_name"),
        F.col("_item.sku_id").alias("item_sku_id"),
        F.col("_item.sku_info.sku_image").alias("item_sku_image"),
        F.col("_item.sku_info.sku_name").alias("item_sku_name"),
        F.col("_item.quantity").cast("int").alias("item_quantity"),
        F.col("_item.unit_price").cast("double").alias("item_unit_price"),
        F.col("_item.currency").alias("item_currency"),
        F.col("_item.is_gift").alias("item_is_gift"),
        F.col("_item.platform_discount").cast("double").alias("item_platform_discount"),
        F.col("_item.seller_discount").cast("double").alias("item_seller_discount"),
        array_to_json(F.col("_item.sku_info.sales_attributes")).alias(
            "item_sku_sales_attributes"
        ),
    )
    return add_etl_metadata(flat, batch_id)


def flatten_misa_sale_orders(raw: DataFrame, batch_id: str | None = None) -> DataFrame:
    """Nested MISA sale order -> one row per product mapping.

    Re-expresses misa_crm_transformer.py:128-231:

    - T13: drop the nested column from the order side (:132).
    - T3: order fields prefixed ``order_``, item fields ``item_`` (:142-148).
    - T9: ``total_items_in_order`` / ``has_multiple_items`` computed from
      the array size BEFORE exploding (:151-152,172-173); empty-mapping
      orders get 0/False and NULL item fields (:154-170).
    - T1: ``explode_outer`` keeps orders with no mappings (one NULL row).
    - T4/T5/T6: typed coercions per the declared lists (:183-231).
    """
    items_col = "sale_order_product_mappings"
    order_cols = [c for c in raw.columns if c != items_col]
    n_items = F.size(F.coalesce(F.col(items_col), F.array()))

    exploded = (
        raw.withColumn("total_items_in_order", n_items.cast("int"))
        .withColumn("has_multiple_items", n_items > 1)
        .select("*", F.explode_outer(items_col).alias("_item"))
        .drop(items_col)
    )

    item_fields = [f.name for f in raw.schema[items_col].dataType.elementType.fields]
    flat = exploded.select(
        *[F.col(c).alias(f"order_{c}") for c in order_cols],
        *[F.col(f"_item.{f}").alias(f"item_{f}") for f in item_fields],
        F.col("has_multiple_items"),
        F.col("total_items_in_order"),
    )

    # raw `id` -> `order_id`, item `id` -> `item_id`: the prefixing above
    # already yields the DDL PK names (order_id, item_id).

    flat = safe_numeric(
        flat,
        [
            "order_sale_order_amount",
            "order_total_summary",
            "order_tax_summary",
            "order_discount_summary",
            "order_exchange_rate",
            "item_price",
            "item_amount",
            "item_total",
            "item_discount",
            "item_tax",
            "item_tax_percent",
            "item_discount_percent",
        ],
    )
    flat = safe_timestamp(
        flat,
        [
            "order_sale_order_date",
            "order_due_date",
            "order_book_date",
            "order_delivery_date",
            "order_paid_date",
            "order_modified_date",
            "item_expire_date",
        ],
    )
    flat = safe_boolean(flat, ["order_is_use_currency", "item_is_promotion"])
    return add_etl_metadata(flat, batch_id, source="misa_crm_api")


def pivot_aggregate(
    df: DataFrame,
    group_cols: list[str],
    pivot_col: str,
    pivot_values: list[str],
    value_col: str,
    agg: str = "sum",
    prefix: str | None = None,
) -> DataFrame:
    """Wide pivot: one output column per ``pivot_values`` entry, each an
    aggregate of ``value_col`` over the rows where ``pivot_col`` equals
    it (the crosstab / conditional-aggregation reshape every reporting
    mart ends with).

    ``pivot_values`` is REQUIRED, not discovered: Spark's value-less
    ``pivot()`` first runs a separate distinct job over the pivot
    column — a full extra scan, and an unbounded output width if the
    column is high-cardinality. Explicit values keep this a single
    groupBy pass (map-side partial agg, one shuffle on ``group_cols``)
    with a fixed, declared schema — the only form that is sane at
    100 TB, and the form the DuckDB oracle can mirror exactly as
    ``agg(CASE WHEN ...)`` columns. Output columns are
    ``{prefix}{value}`` (prefix defaults to ``{value_col}_``);
    combinations with no rows yield NULL for sum/avg/min/max (SQL
    aggregate-over-empty semantics, both engines agree) and 0 for
    count.
    """
    aggs = {"sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max, "count": F.count}
    if agg not in aggs:
        raise ValueError(f"pivot_aggregate: agg must be one of {sorted(aggs)}, got {agg!r}")
    if len(set(pivot_values)) != len(pivot_values):
        raise ValueError("pivot_aggregate: pivot_values contains duplicates")
    pre = f"{value_col}_" if prefix is None else prefix
    collisions = {f"{pre}{v}" for v in pivot_values} & set(group_cols)
    if collisions:
        raise ValueError(
            f"pivot_aggregate: generated columns {sorted(collisions)} collide "
            "with group_cols; pass a different prefix"
        )
    fn = aggs[agg]
    cols = [
        fn(F.when(F.col(pivot_col) == v, F.col(value_col))).alias(f"{pre}{v}")
        for v in pivot_values
    ]
    return df.groupBy(*group_cols).agg(*cols)

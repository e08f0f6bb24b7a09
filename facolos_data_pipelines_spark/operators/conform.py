"""Conform operators — SURVEY.md §2.2 T1–T13 as DataFrame -> DataFrame fns.

These re-express the reference's pandas row-loop transforms as
declarative Spark plans: the per-order flatten loop becomes
``explode_outer`` (whole-stage-codegen'd, no Python in the hot path)
and struct projection becomes nested-column select.

The declared ``STAGING_TABLES`` StructTypes are the one contract
(SURVEY.md §1.2). The flatten functions do structure only (explode,
projection, renames, derived columns, JSON text) and end in the one
conform tail, :func:`to_staging`: ETL metadata, then
:func:`align_to_schema`, which selects, casts and orders every column
to the contract under :func:`safe_cast`'s rules (the pandas
``errors='coerce'`` parity: failure -> NULL). No type is written down
a second time here.

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

from ..catalog.schemas import STAGING_TABLES


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
    the cast (guarded by a property-based parity test). ISO-8601 with a
    trailing 'Z' parses as a timestamp (the reference's
    ``.replace('Z','+00:00')``, misa_crm_extractor.py:274). Booleans
    follow the DDL's BIT contract through Spark's string cast
    (true/false, t/f, yes/no, y/n, 1/0, any case; other strings NULL),
    not the reference's ``astype(bool)`` truthiness, a known reference
    bug (SURVEY §0). A target is a type name or a ``DataType``.
    """
    return df.select(
        *(
            _safe_cast_col(f.name, columns[f.name], f.dataType) if f.name in columns else f.name
            for f in df.schema.fields
        )
    )


_INT_TARGETS = {"int", "integer", "bigint", "long", "smallint", "short", "tinyint", "byte"}


def _safe_cast_col(c: str, target: str | T.DataType, source: T.DataType) -> Column:
    """Column ``c`` of type ``source`` cast to ``target`` under
    :func:`safe_cast`'s rules."""
    name = target.simpleString() if isinstance(target, T.DataType) else target
    src = F.col(c)
    if name.lower() in _INT_TARGETS and isinstance(source, T.StringType):
        src = F.when(src.rlike(r"^\s*[+-]?[0-9]+\s*$"), src)
    return src.cast(target).alias(c)


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
    now = F.current_timestamp()
    stamps = {
        "etl_batch_id": F.lit(batch_id or str(uuid.uuid4())),
        "etl_created_at": now,
        "etl_updated_at": now,
    }
    if source is not None:
        stamps["etl_source"] = F.lit(source)
    return df.withColumns(stamps)


# ---------------------------------------------------------------------------
# T11 — string truncation to DDL widths
# ---------------------------------------------------------------------------

def truncate_strings(df: DataFrame, widths: dict[str, int]) -> DataFrame:
    """``astype(str).str[:n]`` per column map
    (tiktok_shop_staging_loader.py:275-288) — only string columns, only
    when present, width 0 means 'not a string, skip'. Only the
    truncated columns are projected (``withColumns`` keeps the rest in
    place): each Column built is a py4j round trip."""
    return df.withColumns(
        {
            f.name: F.substring(f.name, 1, widths[f.name])
            for f in df.schema.fields
            if isinstance(f.dataType, T.StringType) and widths.get(f.name, 0) > 0
        }
    )


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
    have = {f.name: f.dataType for f in df.schema.fields}
    # one typed NULL per missing type, not per missing column: each
    # Column call is a py4j round trip
    missing = {f.dataType for f in schema.fields if f.name not in have}
    null = {t: F.lit(None).cast(t) for t in missing}
    return df.select(
        *(
            f.name if have.get(f.name) == f.dataType
            else _safe_cast_col(f.name, f.dataType, have[f.name]) if f.name in have
            else null[f.dataType].alias(f.name)
            for f in schema.fields
        )
    )


# ---------------------------------------------------------------------------
# T1/T2/T3/T9 — the signature flatten transforms
# ---------------------------------------------------------------------------

def to_staging(
    df: DataFrame, table: str, batch_id: str | None = None, source: str | None = None
) -> DataFrame:
    """The one conform tail: stamp the ETL metadata, then align to the
    table's declared ``STAGING_TABLES`` contract (SURVEY.md §1.2). Every
    staged type comes from the contract, under :func:`safe_cast`'s rules;
    a column the contract does not declare is dropped."""
    return align_to_schema(add_etl_metadata(df, batch_id, source), STAGING_TABLES[table])


# ---------------------------------------------------------------------------
# T1/T2/T3/T9 — the signature flatten transforms (structure only; types
# come from the contract through to_staging)
# ---------------------------------------------------------------------------

def flatten_tiktok_orders(raw: DataFrame, batch_id: str | None = None) -> DataFrame:
    """Nested TikTok order -> ``tiktok_shop_order_detail`` rows (one per
    line item).

    Re-expresses the reference's per-order Python loop
    (tiktok_shop_transformer.py:39-167) as a single Spark plan:

    - T1: ``explode_outer(line_items)`` — orders with empty/missing
      line_items still emit one row with all item_* fields NULL
      (the `_get_empty_item_fields` branch, :49-53,152-167).
    - T2: order_amount.* / recipient_address.* struct projection with
      the reference's exact output names (:75-127); order fields keep
      their names (:79-97).
    - T3: item_* names (:131-150).
    - T7: sales_attributes array -> JSON string, NULL when empty (:134-135).
    - T4/T8: :func:`to_staging` — safe casts to the contract (a
      fractional quantity ``"3.5"`` is NULL, :179-195) and ETL metadata
      (:169-177).
    """
    ra = "recipient_address"
    flat = raw.select("*", F.explode_outer("line_items").alias("_item")).select(
        "*",  # order info keeps its names — tiktok_shop_transformer.py:79-97
        # order amounts — :99-110
        *[F.col(f"order_amount.{f}").alias(f) for f in raw.schema["order_amount"].dataType.names],
        # recipient — :112-127
        *[
            F.col(f"{ra}.{f}").alias(f"{ra}_{f}")
            for f in ("detail", "region_code", "state", "city", "town", "district", "zipcode")
        ],
        *[F.col(f"{ra}.{f}").alias(f"recipient_{f}") for f in ("name", "phone", "phone_number")],
        # item — :131-150
        F.col("_item.product_id").alias("item_id"),
        F.col("_item.product_name").alias("item_name"),
        F.col("_item.sku_id").alias("item_sku_id"),
        F.col("_item.sku_info.sku_image").alias("item_sku_image"),
        F.col("_item.sku_info.sku_name").alias("item_sku_name"),
        *[
            F.col(f"_item.{f}").alias(f"item_{f}")
            for f in ("quantity", "unit_price", "currency", "is_gift",
                      "platform_discount", "seller_discount")
        ],
        array_to_json(F.col("_item.sku_info.sales_attributes")).alias("item_sku_sales_attributes"),
    )
    return to_staging(flat, "tiktok_shop_order_detail", batch_id)


def flatten_misa_sale_orders(raw: DataFrame, batch_id: str | None = None) -> DataFrame:
    """Nested MISA sale order -> ``misa_sale_orders_flattened`` rows, one
    per product mapping.

    Re-expresses misa_crm_transformer.py:128-231:

    - T13: drop the nested column from the order side (:132).
    - T3: order fields prefixed ``order_``, item fields ``item_`` (:142-148);
      raw ``id`` and item ``id`` become the PK names order_id, item_id.
    - T9: ``total_items_in_order`` / ``has_multiple_items`` computed from
      the array size BEFORE exploding (:151-152,172-173); empty-mapping
      orders get 0/False and NULL item fields (:154-170).
    - T1: ``explode_outer`` keeps orders with no mappings (one NULL row).
    - T4/T5/T6: :func:`to_staging` — the contract's types (:183-231);
      declared columns the API did not send land as typed NULLs, and
      raw fields the contract does not declare (``modified_date``) are
      dropped, as the reference loader's INFORMATION_SCHEMA
      intersection does (misa_crm_loader.py:158-171).
    """
    items_col = "sale_order_product_mappings"
    n_items = F.size(F.coalesce(F.col(items_col), F.array()))
    flat = raw.select(
        *[F.col(c).alias(f"order_{c}") for c in raw.columns if c != items_col],
        n_items.alias("total_items_in_order"),
        (n_items > 1).alias("has_multiple_items"),
        F.explode_outer(items_col).alias("_item"),
    ).select(
        "*",
        *[
            F.col(f"_item.{f}").alias(f"item_{f}")
            for f in raw.schema[items_col].dataType.elementType.names
        ],
    )
    return to_staging(flat, "misa_sale_orders_flattened", batch_id, source="misa_crm_api")


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

"""Unit tests for the conform operators (SURVEY §2.2 T1-T13) against
reference-shaped fixtures (FIXTURES.md A1/A2): the flatten keeps
empty-item orders, safe casts null out garbage, metadata/truncation/
alignment behave like the reference loader."""

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from facolos_data_pipelines_spark.catalog import (
    MISA_SALE_ORDERS_FLATTENED_SCHEMA,
    RAW_MISA_SALE_ORDER_SCHEMA,
    RAW_TIKTOK_ORDER_SCHEMA,
    TIKTOK_ORDER_DETAIL_SCHEMA,
    TRUNCATION_WIDTHS,
)
from facolos_data_pipelines_spark.cli import _misa_entity_transform
from facolos_data_pipelines_spark.operators import conform
from facolos_data_pipelines_spark.quality import flatten_invariants


def _tiktok_order(order_id, n_items, **over):
    items = [
        {
            "product_id": f"P{order_id}-{i}",
            "product_name": f"prod {i}",
            "sku_id": f"SKU{i}",
            "quantity": str(i + 1),
            "unit_price": f"{10.5 * (i + 1)}",
            "currency": "VND",
            "is_gift": "false",
            "platform_discount": "0",
            "seller_discount": "",
            "sku_info": {
                "sku_image": None,
                "sku_name": f"sku name {i}",
                "sales_attributes": [{"name": "color", "value": "red"}] if i % 2 == 0 else [],
            },
        }
        for i in range(n_items)
    ]
    base = {
        "order_id": order_id,
        "order_status": "COMPLETED",
        "create_time": 1700000000,
        "update_time": 1700000100,
        "order_amount": {
            "currency": "VND",
            "total_amount": "123.4",
            "tax_amount": "abc",  # unparseable -> null (T4)
            "original_shipping_fee": "",
            "original_total_product_price": "10",
            "seller_discount": None,
            "shipping_fee": "1.5",
            "shipping_fee_platform_discount": "0",
            "shipping_fee_seller_discount": "0",
            "subtotal_after_seller_discounts": "100",
        },
        "recipient_address": {"city": "Hanoi", "name": "N", "detail": None,
                              "region_code": "VN", "state": None, "town": None,
                              "district": None, "zipcode": "100000", "phone": "1",
                              "phone_number": "2"},
        "line_items": items,
    }
    base.update(over)
    return base


@pytest.fixture(scope="module")
def tiktok_raw(spark):
    fractional = _tiktok_order("O5", 1)
    fractional["line_items"][0]["quantity"] = "3.5"  # _safe_int('3.5') is None
    rows = [
        _tiktok_order("O1", 0),   # empty line_items -> one NULL-item row
        _tiktok_order("O2", 1),
        _tiktok_order("O3", 3),
        _tiktok_order("O4", 2, order_amount=None, recipient_address=None),
        fractional,
    ]
    return spark.createDataFrame(rows, RAW_TIKTOK_ORDER_SCHEMA)


def _typed(schema):
    return [(f.name, f.dataType) for f in schema.fields]


def test_tiktok_flatten_explode_outer(tiktok_raw):
    flat = conform.flatten_tiktok_orders(tiktok_raw, batch_id="b1")
    rows = {r["order_id"]: r for r in flat.collect() if r["order_id"] == "O1"}
    assert flat.count() == 1 + 1 + 3 + 2 + 1  # empty order still emits a row
    o1 = rows["O1"]
    assert o1["item_id"] is None and o1["item_quantity"] is None
    assert o1["order_status"] == "COMPLETED"


def test_tiktok_flatten_safe_casts(tiktok_raw):
    flat = conform.flatten_tiktok_orders(tiktok_raw, batch_id="b1")
    o2 = flat.filter(F.col("order_id") == "O2").first()
    assert o2["total_amount"] == 123.4
    assert o2["tax_amount"] is None            # 'abc' -> null
    assert o2["original_shipping_fee"] is None  # '' -> null
    assert o2["item_quantity"] == 1
    assert o2["item_unit_price"] == 10.5
    assert o2["item_seller_discount"] is None
    o5 = flat.filter(F.col("order_id") == "O5").first()
    assert o5["item_quantity"] is None  # '3.5' -> null, not truncated to 3


def test_tiktok_flatten_null_structs(tiktok_raw):
    o4 = (
        conform.flatten_tiktok_orders(tiktok_raw, batch_id="b1")
        .filter(F.col("order_id") == "O4")
        .first()
    )
    assert o4["currency"] is None and o4["recipient_address_city"] is None


def test_tiktok_sales_attributes_json(tiktok_raw):
    flat = conform.flatten_tiktok_orders(tiktok_raw, batch_id="b1")
    o3 = flat.filter(F.col("order_id") == "O3").orderBy("item_id").collect()
    assert '"color"' in o3[0]["item_sku_sales_attributes"]  # non-empty -> JSON
    assert o3[1]["item_sku_sales_attributes"] is None       # empty -> NULL (T7)


def test_tiktok_flatten_matches_contract(tiktok_raw):
    flat = conform.flatten_tiktok_orders(tiktok_raw, batch_id="b1")
    assert _typed(flat.schema) == _typed(TIKTOK_ORDER_DETAIL_SCHEMA)


def _misa_order(oid, n_items, sale_order_date="2024-05-01 09:00:00"):
    return {
        "id": oid,
        "sale_order_no": f"SO{oid}",
        "account_name": "acme",
        "status": "done",
        "delivery_status": None,
        "pay_status": None,
        "sale_order_amount": "1000.5",
        "total_summary": "x",  # unparseable
        "tax_summary": None,
        "discount_summary": "1",
        "exchange_rate": "1.0",
        "sale_order_date": sale_order_date,
        "due_date": "not a date",
        "book_date": None,
        "delivery_date": None,
        "paid_date": None,
        "is_use_currency": False,
        "modified_date": "2024-05-01T10:00:00Z",  # not in the contract
        "sale_order_product_mappings": [
            {
                "id": oid * 100 + i,
                "product_code": f"PC{i}",
                "unit": "pcs",
                "stock_name": None,
                "description": None,
                "tax_percent": "10",
                "price": f"{i * 2.5}",
                "amount": "3",
                "total": "7.5",
                "discount": None,
                "tax": "0.75",
                "discount_percent": "0",
                "expire_date": None,
                "is_promotion": False,
            }
            for i in range(n_items)
        ],
    }


@pytest.fixture(scope="module")
def misa_raw(spark):
    rows = [
        _misa_order(1, 0),
        _misa_order(2, 1),
        _misa_order(3, 3, sale_order_date="2024-05-01T10:00:00Z"),
    ]
    return spark.createDataFrame(rows, RAW_MISA_SALE_ORDER_SCHEMA)


def test_misa_flatten_invariants(misa_raw):
    flat = conform.flatten_misa_sale_orders(misa_raw, batch_id="b2")
    inv = flatten_invariants(misa_raw, flat).first()
    assert inv["orders_preserved"] and inv["items_preserved"]
    assert inv["raw_empty_orders"] == 1 and inv["raw_multi_item_orders"] == 1


def test_misa_flatten_metadata_and_prefixes(misa_raw):
    flat = conform.flatten_misa_sale_orders(misa_raw, batch_id="b2")
    r3 = flat.filter(F.col("order_id") == 3).collect()
    assert len(r3) == 3
    assert all(r["total_items_in_order"] == 3 and r["has_multiple_items"] for r in r3)
    r1 = flat.filter(F.col("order_id") == 1).collect()
    assert len(r1) == 1
    assert r1[0]["item_id"] is None and r1[0]["total_items_in_order"] == 0
    assert not r1[0]["has_multiple_items"]
    assert r1[0]["etl_source"] == "misa_crm_api"


def test_misa_flatten_coercions(misa_raw):
    r2 = (
        conform.flatten_misa_sale_orders(misa_raw, batch_id="b2")
        .filter(F.col("order_id") == 2)
        .first()
    )
    assert r2["order_sale_order_amount"] == 1000.5
    assert r2["order_total_summary"] is None  # 'x' -> null
    assert r2["order_sale_order_date"] == dt.datetime(2024, 5, 1, 9, 0, 0)
    assert r2["order_due_date"] is None       # unparseable -> null
    assert r2["item_price"] == 0.0
    assert r2["order_is_use_currency"] is False


def test_misa_flatten_matches_contract(misa_raw):
    flat = conform.flatten_misa_sale_orders(misa_raw, batch_id="b2")
    assert _typed(flat.schema) == _typed(MISA_SALE_ORDERS_FLATTENED_SCHEMA)


def test_misa_sale_order_date_z_suffix(misa_raw):
    flat = conform.flatten_misa_sale_orders(misa_raw, batch_id="b2")
    r = flat.filter(F.col("order_id") == 3).first()
    assert r["order_sale_order_date"] == dt.datetime(2024, 5, 1, 10, 0, 0)  # Z parsed as UTC


def test_conform_misa_entity_dynamic_columns(spark):
    # dynamic API schema: typed column missing entirely + garbage values
    df = spark.createDataFrame(
        [
            {"id": 1, "annual_revenue": "12.5", "modified_date": "2024-01-02", "inactive": "true"},
            {"id": 2, "annual_revenue": "garbage", "modified_date": "nope", "inactive": "xyz"},
        ],
        "id long, annual_revenue string, modified_date string, inactive string",
    )
    out = _misa_entity_transform("misa_customers")(df, "b3")
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["annual_revenue"] == 12.5 and rows[2]["annual_revenue"] is None
    assert rows[1]["modified_date"] == dt.datetime(2024, 1, 2)
    assert rows[2]["modified_date"] is None
    assert rows[1]["inactive"] is True and rows[2]["inactive"] is None


def test_truncate_strings(spark):
    df = spark.createDataFrame([("x" * 600, 5)], "item_name string, item_quantity int")
    out = conform.truncate_strings(df, TRUNCATION_WIDTHS).first()
    assert len(out["item_name"]) == 500
    assert out["item_quantity"] == 5  # non-string untouched


def test_truncate_strings_projects_only_truncated_columns(spark):
    """Only the truncated string columns are projected, and the
    optimized plan equals the one-Column-per-column projection's."""
    widths = dict(TRUNCATION_WIDTHS)
    df = spark.createDataFrame(
        [("x" * 600, 5, "y" * 40, "z")],
        "item_name string, item_quantity int, order_id string, untouched string",
    )
    string_cols = {"item_name", "order_id", "untouched"}
    reference = df.select(
        *[
            F.substring(F.col(c), 1, widths[c]).alias(c)
            if widths.get(c, 0) > 0 and c in string_cols else F.col(c)
            for c in df.columns
        ]
    )
    out = conform.truncate_strings(df, widths)
    assert out.columns == df.columns
    plan = out._jdf.queryExecution().optimizedPlan()
    assert plan.sameResult(reference._jdf.queryExecution().optimizedPlan())
    assert out.collect() == reference.collect()


def test_align_to_schema(spark):
    target = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.DoubleType()),
            T.StructField("c", T.StringType()),
        ]
    )
    df = spark.createDataFrame([("1", "extra", 2.0)], "a string, z string, b double")
    out = conform.align_to_schema(df, target)
    assert out.columns == ["a", "b", "c"]
    row = out.first()
    assert row["a"] == 1 and row["b"] == 2.0 and row["c"] is None
    # present columns cast under safe_cast's rules: a fractional string
    # id is NULL, not truncated to 3
    ids = spark.createDataFrame([("3.5",), ("7",)], "a string")
    got = [r["a"] for r in conform.align_to_schema(ids, target).collect()]
    assert got == [None, 7]


def test_flatten_invariants_empty_cycle_passes(spark):
    """An EMPTY extract cycle trivially preserves orders and items:
    the invariant booleans must be TRUE (0 == 0), not NULL (bare SUM
    over zero rows) — a gate filtering on them would fail a quiet
    cycle (round-9 quiet-day contract)."""
    from pyspark.sql import types as T

    raw = spark.createDataFrame(
        [],
        T.StructType([
            T.StructField("id", T.StringType()),
            T.StructField(
                "items",
                T.ArrayType(T.StructType([T.StructField("sku", T.StringType())])),
            ),
        ]),
    )
    flat = spark.createDataFrame(
        [], "order_id string, item_sku string"
    )
    inv = flatten_invariants(
        raw, flat, raw_order_key="id", order_key="order_id",
        items_col="items", item_key="item_sku",
    ).first()
    assert inv["raw_orders"] == 0 and inv["raw_items"] == 0
    assert inv["flat_items"] == 0
    assert inv["orders_preserved"] is True
    assert inv["items_preserved"] is True

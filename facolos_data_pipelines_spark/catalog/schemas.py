"""Declared staging schemas — the engine's table contracts.

The reference declares its target schemas as SQL Server DDL; here they
are explicit ``StructType``s. The DDL is the source of truth:

- TikTok order-detail staging table (53 cols):
  reference sql/staging/create_tiktok_shop_orders_table.sql:15-83
- MISA staging tables:
  reference sql/staging/create_misa_crm_tables.sql:36-539
- ETL control tables (batch_runs, data_sources):
  reference sql/staging/create_facolos_enterprise_schemas.sql:79-107

Type mapping follows SURVEY.md §1.3: NVARCHAR -> string, BIGINT epoch
seconds stay long (deliberately NOT timestamps — reference
tiktok_shop_staging_loader.py:266-273), DECIMAL money -> double (the
reference's Python layer coerces through float before the DECIMAL
column, so double is the observed in-flight type; the DDL decimal
width is retained in TRUNCATION_WIDTHS/decimal metadata for sinks that
want it), BIT -> boolean, DATETIME2 -> timestamp.
"""

from __future__ import annotations

from pyspark.sql import types as T


def _fields(pairs: list[tuple[str, T.DataType]], nullable: bool = True) -> list[T.StructField]:
    return [T.StructField(n, t, nullable) for n, t in pairs]


S, L, I, D, B, TS = (
    T.StringType(),
    T.LongType(),
    T.IntegerType(),
    T.DoubleType(),
    T.BooleanType(),
    T.TimestampType(),
)

# ---------------------------------------------------------------------------
# Raw (pre-flatten) nested schemas — the shape REST ingestion lands.
# ---------------------------------------------------------------------------

# Raw TikTok order — nested JSON from /orders; shape per reference
# src/transformers/tiktok_shop_transformer.py:39-150 and
# docs/tiktok_shop_api_fixed.ipynb cells 23/25. Money fields arrive as
# strings and are safe-cast later (T4), so they are string here.
RAW_TIKTOK_ORDER_SCHEMA = T.StructType(
    _fields(
        [
            ("order_id", S),
            ("order_status", S),
            ("buyer_message", S),
            ("cancel_reason", S),
            ("cancel_user", S),
            ("collection_time", L),
            ("create_time", L),
            ("delivery_due_time", L),
            ("delivery_time", L),
            ("fulfillment_type", S),
            ("order_line_type", S),
            ("payment_method", S),
            ("payment_method_name", S),
            ("remark", S),
            ("request_cancel_reason", S),
            ("split_or_combine_tag", S),
            ("update_time", L),
            ("warehouse_id", S),
            (
                "order_amount",
                T.StructType(
                    _fields(
                        [
                            ("currency", S),
                            ("original_shipping_fee", S),
                            ("original_total_product_price", S),
                            ("seller_discount", S),
                            ("shipping_fee", S),
                            ("shipping_fee_platform_discount", S),
                            ("shipping_fee_seller_discount", S),
                            ("subtotal_after_seller_discounts", S),
                            ("tax_amount", S),
                            ("total_amount", S),
                        ]
                    )
                ),
            ),
            (
                "recipient_address",
                T.StructType(
                    _fields(
                        [
                            ("detail", S),
                            ("region_code", S),
                            ("state", S),
                            ("city", S),
                            ("town", S),
                            ("district", S),
                            ("zipcode", S),
                            ("name", S),
                            ("phone", S),
                            ("phone_number", S),
                        ]
                    )
                ),
            ),
            (
                "line_items",
                T.ArrayType(
                    T.StructType(
                        _fields(
                            [
                                ("product_id", S),
                                ("product_name", S),
                                ("sku_id", S),
                                ("quantity", S),
                                ("unit_price", S),
                                ("currency", S),
                                ("is_gift", S),
                                ("platform_discount", S),
                                ("seller_discount", S),
                                (
                                    "sku_info",
                                    T.StructType(
                                        _fields(
                                            [
                                                ("sku_image", S),
                                                ("sku_name", S),
                                                (
                                                    "sales_attributes",
                                                    T.ArrayType(
                                                        T.StructType(
                                                            _fields(
                                                                [("name", S), ("value", S)]
                                                            )
                                                        )
                                                    ),
                                                ),
                                            ]
                                        )
                                    ),
                                ),
                            ]
                        )
                    )
                ),
            ),
        ]
    )
)

# Raw MISA sale order — per reference
# src/transformers/misa_crm_transformer.py:128-175 + FIXTURES.md A2.
RAW_MISA_SALE_ORDER_SCHEMA = T.StructType(
    _fields(
        [
            ("id", L),
            ("sale_order_no", S),
            ("account_name", S),
            ("status", S),
            ("delivery_status", S),
            ("pay_status", S),
            ("sale_order_amount", S),
            ("total_summary", S),
            ("tax_summary", S),
            ("discount_summary", S),
            ("exchange_rate", S),
            ("sale_order_date", S),
            ("due_date", S),
            ("book_date", S),
            ("delivery_date", S),
            ("paid_date", S),
            ("is_use_currency", B),
            ("modified_date", S),
            (
                "sale_order_product_mappings",
                T.ArrayType(
                    T.StructType(
                        _fields(
                            [
                                ("id", L),
                                ("product_code", S),
                                ("unit", S),
                                ("stock_name", S),
                                ("description", S),
                                ("tax_percent", S),
                                ("price", S),
                                ("amount", S),
                                ("total", S),
                                ("discount", S),
                                ("tax", S),
                                ("discount_percent", S),
                                ("expire_date", S),
                                ("is_promotion", B),
                            ]
                        )
                    )
                ),
            ),
        ]
    )
)

# ---------------------------------------------------------------------------
# Flat staging schemas (post-conform contracts).
# ---------------------------------------------------------------------------

_ETL_META = [
    ("etl_batch_id", S),
    ("etl_created_at", TS),
    ("etl_updated_at", TS),
]

# staging tiktok_shop_order_detail — 53 columns (3 ETL metadata + 50), PK
# (etl_batch_id, order_id, item_id, item_sku_id); reference DDL
# sql/staging/create_tiktok_shop_orders_table.sql:15-83.
TIKTOK_ORDER_DETAIL_SCHEMA = T.StructType(
    _fields(
        _ETL_META
        + [
            ("order_id", S),
            ("order_status", S),
            ("buyer_message", S),
            ("cancel_reason", S),
            ("cancel_user", S),
            ("collection_time", L),  # epoch seconds, deliberately long
            ("create_time", L),
            ("delivery_due_time", L),
            ("delivery_time", L),
            ("fulfillment_type", S),
            ("order_line_type", S),
            ("payment_method", S),
            ("payment_method_name", S),
            ("remark", S),
            ("request_cancel_reason", S),
            ("split_or_combine_tag", S),
            ("update_time", L),
            ("warehouse_id", S),
            ("currency", S),
            ("original_shipping_fee", D),
            ("original_total_product_price", D),
            ("seller_discount", D),
            ("shipping_fee", D),
            ("shipping_fee_platform_discount", D),
            ("shipping_fee_seller_discount", D),
            ("subtotal_after_seller_discounts", D),
            ("tax_amount", D),
            ("total_amount", D),
            ("recipient_address_detail", S),
            ("recipient_address_region_code", S),
            ("recipient_address_state", S),
            ("recipient_address_city", S),
            ("recipient_address_town", S),
            ("recipient_address_district", S),
            ("recipient_address_zipcode", S),
            ("recipient_name", S),
            ("recipient_phone", S),
            ("recipient_phone_number", S),
            ("item_id", S),
            ("item_name", S),
            ("item_sku_id", S),
            ("item_sku_image", S),
            ("item_sku_name", S),
            ("item_quantity", I),
            ("item_unit_price", D),
            ("item_currency", S),
            ("item_is_gift", S),
            ("item_platform_discount", D),
            ("item_seller_discount", D),
            ("item_sku_sales_attributes", S),  # array serialized to JSON (T7)
        ]
    )
)

# staging.misa_sale_orders_flattened — 95 columns, full reference DDL contract
# (create_misa_crm_tables.sql:173-300; order_*/item_* prefixes per misa_crm_transformer.py:142-148); includes the DDL's inline etl_* columns.
MISA_SALE_ORDERS_FLATTENED_SCHEMA = T.StructType(
    _fields(
        [
            ("order_id", L),
            ("order_sale_order_no", S),
            ("order_account_name", S),
            ("order_sale_order_name", S),
            ("order_sale_order_amount", D),
            ("order_sale_order_date", TS),
            ("order_due_date", TS),
            ("order_status", S),
            ("order_delivery_status", S),
            ("order_pay_status", S),
            ("order_revenue_status", S),
            ("order_total_summary", D),
            ("order_tax_summary", D),
            ("order_discount_summary", D),
            ("order_to_currency_summary", D),
            ("order_total_receipted_amount", D),
            ("order_balance_receipt_amount", D),
            ("order_invoiced_amount", D),
            ("order_un_invoiced_amount", D),
            ("order_currency_type", S),
            ("order_exchange_rate", D),
            ("order_is_use_currency", B),
            ("order_billing_address", S),
            ("order_billing_country", S),
            ("order_billing_province", S),
            ("order_billing_district", S),
            ("order_billing_ward", S),
            ("order_billing_street", S),
            ("order_billing_code", S),
            ("order_shipping_address", S),
            ("order_shipping_country", S),
            ("order_shipping_province", S),
            ("order_shipping_district", S),
            ("order_shipping_ward", S),
            ("order_shipping_street", S),
            ("order_shipping_code", S),
            ("order_phone", S),
            ("order_billing_contact", S),
            ("order_shipping_contact_name", S),
            ("order_organization_unit_name", S),
            ("order_owner_name", S),
            ("order_employee_code", S),
            ("order_account_code", S),
            ("order_contact_code", S),
            ("order_book_date", TS),
            ("order_deadline_date", TS),
            ("order_delivery_date", TS),
            ("order_paid_date", TS),
            ("order_invoice_date", TS),
            ("order_production_date", TS),
            ("item_id", L),
            ("item_product_code", S),
            ("item_unit", S),
            ("item_usage_unit", S),
            ("item_price", D),
            ("item_amount", D),
            ("item_usage_unit_amount", D),
            ("item_usage_unit_price", D),
            ("item_total", D),
            ("item_to_currency", D),
            ("item_discount", D),
            ("item_tax", D),
            ("item_tax_percent", S),
            ("item_discount_percent", D),
            ("item_price_after_tax", D),
            ("item_price_after_discount", D),
            ("item_to_currency_after_discount", D),
            ("item_description", S),
            ("item_description_product", S),
            ("item_stock_name", S),
            ("item_batch_number", S),
            ("item_serial_number", S),
            ("item_expire_date", TS),
            ("item_height", D),
            ("item_width", D),
            ("item_length", D),
            ("item_radius", D),
            ("item_mass", D),
            ("item_exist_amount", D),
            ("item_shipping_amount", D),
            ("item_sort_order", I),
            ("item_ratio", D),
            ("item_operator", S),
            ("item_promotion", S),
            ("item_is_promotion", B),
            ("item_custom_field1", D),
            ("item_produced_quantity", D),
            ("item_quantity_ordered", D),
            ("item_sale_order_product", S),
            ("has_multiple_items", B),
            ("total_items_in_order", I),
            ("etl_created_at", TS),
            ("etl_updated_at", TS),
            ("etl_batch_id", S),
            ("etl_source", S),
        ]
    )
)


# staging.misa_customers — 86 columns, full reference DDL contract
# (create_misa_crm_tables.sql:36-155); includes the DDL's inline etl_* columns.
MISA_CUSTOMERS_SCHEMA = T.StructType(
    _fields(
        [
            ("id", L),
            ("account_number", S),
            ("account_code", S),
            ("account_name", S),
            ("account_short_name", S),
            ("owner_name", S),
            ("office_tel", S),
            ("office_email", S),
            ("website", S),
            ("fax", S),
            ("billing_address", S),
            ("billing_country", S),
            ("billing_province", S),
            ("billing_district", S),
            ("billing_ward", S),
            ("billing_street", S),
            ("billing_code", S),
            ("shipping_address", S),
            ("shipping_country", S),
            ("shipping_province", S),
            ("shipping_district", S),
            ("shipping_ward", S),
            ("shipping_street", S),
            ("shipping_code", S),
            ("business_type", S),
            ("industry", S),
            ("annual_revenue", D),
            ("tax_code", S),
            ("bank_account", S),
            ("bank_name", S),
            ("debt", D),
            ("debt_limit", D),
            ("number_of_days_owed", D),
            ("number_orders", D),
            ("order_sales", D),
            ("average_order_value", D),
            ("average_number_of_days_between_purchases", D),
            ("number_days_without_purchase", D),
            ("list_product_category", S),
            ("list_product", S),
            ("purchase_date_recent", TS),
            ("purchase_date_first", TS),
            ("customer_since_date", TS),
            ("last_interaction_date", TS),
            ("last_visit_date", TS),
            ("last_call_date", TS),
            ("is_personal", B),
            ("gender", S),
            ("identification", S),
            ("issued_on", TS),
            ("place_of_issue", S),
            ("celebrate_date", TS),
            ("organization_unit_name", S),
            ("form_layout", S),
            ("rating", S),
            ("lead_source", S),
            ("sector_name", S),
            ("no_of_employee_name", S),
            ("parent_account_name", S),
            ("account_type", S),
            ("inactive", B),
            ("is_public", B),
            ("is_distributor", B),
            ("is_portal_access", B),
            ("portal_username", S),
            ("billing_long", D),
            ("billing_lat", D),
            ("shipping_long", D),
            ("shipping_lat", D),
            ("custom_field13", S),
            ("custom_field14", S),
            ("description", S),
            ("tag", S),
            ("budget_code", S),
            ("total_score", D),
            ("number_days_not_interacted", S),
            ("related_users", S),
            ("created_date", TS),
            ("created_by", S),
            ("modified_date", TS),
            ("modified_by", S),
            ("last_modified_date", TS),
            ("etl_created_at", TS),
            ("etl_updated_at", TS),
            ("etl_batch_id", S),
            ("etl_source", S),
        ]
    )
)


# staging.misa_contacts — 66 columns, full reference DDL contract
# (create_misa_crm_tables.sql:320-417); includes the DDL's inline etl_* columns.
MISA_CONTACTS_SCHEMA = T.StructType(
    _fields(
        [
            ("id", L),
            ("contact_code", S),
            ("account_code", S),
            ("contact_name", S),
            ("first_name", S),
            ("last_name", S),
            ("salutation", S),
            ("mobile", S),
            ("office_tel", S),
            ("other_phone", S),
            ("office_email", S),
            ("email", S),
            ("facebook", S),
            ("zalo", S),
            ("account_name", S),
            ("title", S),
            ("department", S),
            ("account_type", S),
            ("mailing_address", S),
            ("mailing_country", S),
            ("mailing_province", S),
            ("mailing_district", S),
            ("mailing_ward", S),
            ("mailing_street", S),
            ("mailing_zip", S),
            ("shipping_address", S),
            ("shipping_country", S),
            ("shipping_province", S),
            ("shipping_district", S),
            ("shipping_ward", S),
            ("shipping_street", S),
            ("shipping_zip", S),
            ("mailing_long", D),
            ("mailing_lat", D),
            ("shipping_long", D),
            ("shipping_lat", D),
            ("date_of_birth", TS),
            ("gender", S),
            ("married_status", S),
            ("bank_account", S),
            ("bank_name", S),
            ("email_opt_out", B),
            ("phone_opt_out", B),
            ("lead_source", S),
            ("customer_since_date", TS),
            ("organization_unit_name", S),
            ("owner_name", S),
            ("form_layout", S),
            ("inactive", B),
            ("total_score", D),
            ("last_interaction_date", TS),
            ("last_visit_date", TS),
            ("last_call_date", TS),
            ("number_days_not_interacted", D),
            ("is_public", B),
            ("tag", S),
            ("related_users", S),
            ("description", S),
            ("created_date", TS),
            ("created_by", S),
            ("modified_date", TS),
            ("modified_by", S),
            ("etl_created_at", TS),
            ("etl_updated_at", TS),
            ("etl_batch_id", S),
            ("etl_source", S),
        ]
    )
)


# staging.misa_stocks — 14 columns, full reference DDL contract
# (create_misa_crm_tables.sql:435-459); includes the DDL's inline etl_* columns.
MISA_STOCKS_SCHEMA = T.StructType(
    _fields(
        [
            ("stock_code", S),
            ("act_database_id", S),
            ("async_id", S),
            ("stock_name", S),
            ("description", S),
            ("inactive", B),
            ("created_date", TS),
            ("created_by", S),
            ("modified_date", TS),
            ("modified_by", S),
            ("etl_created_at", TS),
            ("etl_updated_at", TS),
            ("etl_batch_id", S),
            ("etl_source", S),
        ]
    )
)


# staging.misa_products — 39 columns, full reference DDL contract
# (create_misa_crm_tables.sql:476-539); includes the DDL's inline etl_* columns.
MISA_PRODUCTS_SCHEMA = T.StructType(
    _fields(
        [
            ("id", L),
            ("product_code", S),
            ("product_name", S),
            ("product_category", S),
            ("usage_unit", S),
            ("description", S),
            ("sale_description", S),
            ("unit_price", D),
            ("purchased_price", D),
            ("unit_cost", D),
            ("unit_price1", D),
            ("unit_price2", D),
            ("unit_price_fixed", D),
            ("price_after_tax", B),
            ("tax", S),
            ("is_use_tax", B),
            ("product_properties", S),
            ("is_follow_serial_number", B),
            ("is_set_product", B),
            ("quantity_formula", S),
            ("default_stock", S),
            ("warranty_period", S),
            ("warranty_description", S),
            ("organization_unit_name", S),
            ("owner_name", S),
            ("form_layout", S),
            ("source", S),
            ("inactive", B),
            ("is_public", B),
            ("avatar", S),
            ("tag", S),
            ("created_date", TS),
            ("created_by", S),
            ("modified_date", TS),
            ("modified_by", S),
            ("etl_created_at", TS),
            ("etl_updated_at", TS),
            ("etl_batch_id", S),
            ("etl_source", S),
        ]
    )
)


# ---------------------------------------------------------------------------
# ETL control tables — reference create_facolos_enterprise_schemas.sql:79-107.
# ---------------------------------------------------------------------------

BATCH_RUNS_SCHEMA = T.StructType(
    _fields(
        [
            ("batch_id", S),
            ("source_name", S),
            ("table_name", S),
            ("status", S),  # running | success | failed | skipped_not_due
            ("records_extracted", L),
            ("records_loaded", L),
            ("started_at", TS),
            ("finished_at", TS),
            ("error_message", S),
        ]
    )
)

DATA_SOURCES_SCHEMA = T.StructType(
    _fields(
        [
            ("source_name", S),
            ("platform", S),
            ("extract_frequency_hours", D),
            ("last_extract_time", TS),
            ("is_active", B),
        ]
    )
)

# ---------------------------------------------------------------------------
# Registry — mirrors the reference's per-platform schema layout
# (config/settings.py:57-80).
# ---------------------------------------------------------------------------

STAGING_TABLES: dict[str, T.StructType] = {
    "tiktok_shop_order_detail": TIKTOK_ORDER_DETAIL_SCHEMA,
    "misa_sale_orders_flattened": MISA_SALE_ORDERS_FLATTENED_SCHEMA,
    "misa_customers": MISA_CUSTOMERS_SCHEMA,
    "misa_contacts": MISA_CONTACTS_SCHEMA,
    "misa_stocks": MISA_STOCKS_SCHEMA,
    "misa_products": MISA_PRODUCTS_SCHEMA,
}

# Primary keys per table — drives merge-upsert and append-dedup.
# reference run_historical_backfill.py:204-210 + DDL PK constraints.
PRIMARY_KEYS: dict[str, list[str]] = {
    "tiktok_shop_order_detail": ["etl_batch_id", "order_id", "item_id", "item_sku_id"],
    "misa_sale_orders_flattened": ["order_id", "item_id"],
    "misa_customers": ["id"],
    "misa_contacts": ["id"],
    "misa_stocks": ["stock_code"],
    "misa_products": ["id"],
}

# NVARCHAR(n) truncation widths applied before load — reference
# src/loaders/tiktok_shop_staging_loader.py:275-288.
TRUNCATION_WIDTHS: dict[str, int] = {
    "order_id": 50,
    "order_status": 50,
    "cancel_user": 50,
    "fulfillment_type": 50,
    "order_line_type": 50,
    "payment_method": 100,
    "payment_method_name": 100,
    "split_or_combine_tag": 50,
    "warehouse_id": 50,
    "currency": 10,
    "recipient_address_region_code": 20,
    "recipient_address_state": 100,
    "recipient_address_city": 100,
    "recipient_address_town": 100,
    "recipient_address_district": 100,
    "recipient_address_zipcode": 20,
    "recipient_name": 200,
    "recipient_phone": 50,
    "recipient_phone_number": 50,
    "item_id": 50,
    "item_name": 500,
    "item_sku_id": 50,
    "item_sku_name": 500,
    "item_quantity": 0,  # non-string; ignored by truncate step
    "item_currency": 10,
    "item_is_gift": 10,
}

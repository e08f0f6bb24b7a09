"""CLI entry point (cli.main): cycle over landed JSON, quality gate,
JSON report contract, exit codes."""

import json
import os

import pytest

from facolos_data_pipelines_spark.cli import main


@pytest.fixture()
def landing(tmp_path):
    root = tmp_path / "landing"
    tiktok = root / "tiktok_shop_orders"
    tiktok.mkdir(parents=True)
    orders = [
        {
            "order_id": "O1",
            "order_status": "COMPLETED",
            "create_time": 1700000000,
            "line_items": [
                {"product_id": "p1", "product_name": "widget", "sku_id": "s1",
                 "quantity": "1"},
                {"product_id": "p2", "product_name": "gadget", "sku_id": "s2",
                 "quantity": "2"},
            ],
        },
        {"order_id": "O2", "order_status": "UNPAID", "create_time": 1700000100,
         "line_items": []},
    ]
    with open(tiktok / "batch1.json", "w") as f:
        for o in orders:
            f.write(json.dumps(o) + "\n")
    customers = root / "misa_customers"
    customers.mkdir()
    with open(customers / "batch1.json", "w") as f:
        for i in range(3):
            f.write(json.dumps({"id": i, "account_name": f"acct{i}"}) + "\n")
    return str(root)


def test_cli_cycle_and_quality_and_replay(landing, tmp_path, capsys):
    staging = str(tmp_path / "staging")
    control = str(tmp_path / "control")
    rc = main([
        "cycle", "--landing-root", landing, "--staging-root", staging,
        "--control-root", control, "--min-tables", "2",
    ])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and report["status"] == "success"
    assert report["endpoints"]["tiktok_shop_orders"]["records"] == 3
    assert report["endpoints"]["misa_customers"]["records"] == 3
    assert report["quality"]["passed"]
    assert os.path.isdir(f"{staging}/tiktok_shop_order_detail")
    assert os.path.isdir(f"{control}/batch_runs")

    # replay: appends reject on business PKs, upserts update in place
    rc2 = main([
        "cycle", "--landing-root", landing, "--staging-root", staging,
        "--min-tables", "2",
    ])
    report2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc2 == 0
    assert report2["endpoints"]["tiktok_shop_orders"]["records"] == 0

    rc3 = main(["quality", "--staging-root", staging, "--min-tables", "2"])
    q = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc3 == 0 and q["passed"]
    assert q["tables"]["tiktok_shop_order_detail"] == 3
    assert q["tables"]["misa_customers"] == 3


def test_cli_quality_gate_failure_exits_nonzero(landing, tmp_path, capsys):
    staging = str(tmp_path / "staging")
    main([
        "cycle", "--landing-root", landing, "--staging-root", staging,
        "--min-tables", "2",
    ])
    capsys.readouterr()
    rc = main(["quality", "--staging-root", staging, "--min-tables", "5"])
    q = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 1 and not q["passed"]


def test_cli_unknown_endpoint_dir_is_loud(tmp_path):
    root = tmp_path / "landing"
    (root / "mystery_source").mkdir(parents=True)
    with pytest.raises(SystemExit, match="mystery_source"):
        main([
            "cycle", "--landing-root", str(root),
            "--staging-root", str(tmp_path / "s"),
        ])


def test_cli_cycle_failed_gate_exits_nonzero(landing, tmp_path, capsys):
    staging = str(tmp_path / "staging")
    rc = main([
        "cycle", "--landing-root", landing, "--staging-root", staging,
        "--min-tables", "5",  # only 2 endpoints land -> gate fails
    ])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["status"] == "success"          # loads succeeded
    assert not report["quality"]["passed"]        # but the gate failed
    assert rc == 1                                # and the exit says so


def test_cli_backfill_windows_sequential_and_idempotent(landing, tmp_path, capsys):
    """Window layout <root>/<window>/<endpoint>; windows run in name
    order; replaying the whole backfill adds nothing (PK-safe loads)."""
    import shutil

    root = tmp_path / "bf_landing"
    # window 1 = the fixture landing; window 2 = one more tiktok order
    shutil.copytree(landing, root / "2024-01")
    w2 = root / "2024-02" / "tiktok_shop_orders"
    w2.mkdir(parents=True)
    with open(w2 / "b.json", "w") as f:
        f.write(json.dumps({
            "order_id": "O9", "order_status": "COMPLETED",
            "create_time": 1700900000, "line_items": [],
        }) + "\n")
    staging = str(tmp_path / "bf_staging")
    rc = main([
        "backfill", "--landing-root", str(root), "--staging-root", staging,
        "--min-tables", "1",
    ])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and report["status"] == "success"
    assert list(report["windows"]) == ["2024-01", "2024-02"]
    assert report["windows"]["2024-01"]["endpoints"]["tiktok_shop_orders"]["records"] == 3
    assert report["windows"]["2024-02"]["endpoints"]["tiktok_shop_orders"]["records"] == 1

    rc2 = main([
        "backfill", "--landing-root", str(root), "--staging-root", staging,
        "--min-tables", "1",
    ])
    replay = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc2 == 0
    assert replay["windows"]["2024-01"]["endpoints"]["tiktok_shop_orders"]["records"] == 0
    assert replay["windows"]["2024-02"]["endpoints"]["tiktok_shop_orders"]["records"] == 0


def test_cli_export_xlsx(landing, tmp_path, capsys):
    staging = str(tmp_path / "staging")
    main([
        "cycle", "--landing-root", landing, "--staging-root", staging,
        "--min-tables", "1",
    ])
    capsys.readouterr()
    out = str(tmp_path / "orders.xlsx")
    rc = main([
        "export", "--staging-root", staging,
        "--table", "tiktok_shop_order_detail", "--out", out,
        "--format", "xlsx",
    ])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and report["rows"] == 3
    import zipfile

    with zipfile.ZipFile(out) as z:
        assert "xl/worksheets/sheet1.xml" in z.namelist()


def test_cli_backfill_final_gate_drives_exit_code(landing, tmp_path, capsys):
    import shutil

    root = tmp_path / "bf2"
    shutil.copytree(landing, root / "w1")
    staging = str(tmp_path / "bf2_staging")
    rc = main([
        "backfill", "--landing-root", str(root), "--staging-root", staging,
        "--min-tables", "5",  # only 2 tables land -> final gate fails
    ])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["status"] == "success"      # loads all succeeded
    assert not report["quality"]["passed"]    # final gate failed
    assert rc == 1


def test_cli_cycle_lands_every_table_under_its_contract(spark, tmp_path, capsys):
    """One cycle over all six endpoints, one record each: every landed
    table holds exactly its ``STAGING_TABLES`` schema (names, order,
    types) and reads back through the table ``bootstrap_catalog``
    registers over it."""
    from facolos_data_pipelines_spark.catalog.bootstrap import bootstrap_catalog
    from facolos_data_pipelines_spark.catalog.schemas import STAGING_TABLES

    records = {
        "tiktok_shop_orders": {
            "order_id": "O1", "order_status": "COMPLETED", "create_time": 1700000000,
            "order_amount": {"currency": "VND", "total_amount": "12.5"},
            "line_items": [{"product_id": "p1", "sku_id": "s1", "quantity": "2",
                            "unit_price": "6.25"}],
        },
        "misa_sale_orders": {
            "id": 7, "sale_order_no": "SO7", "sale_order_amount": "100.5",
            "sale_order_date": "2024-05-01T09:00:00Z", "modified_date": "2024-05-02",
            "sale_order_product_mappings": [{"id": 70, "product_code": "PC1",
                                             "tax_percent": "10", "price": "2.5"}],
        },
        "misa_customers": {"id": 1, "account_name": "acme", "annual_revenue": 12.5},
        "misa_contacts": {"id": 2, "contact_name": "ann"},
        "misa_stocks": {"stock_code": "K1", "stock_name": "main"},
        "misa_products": {"id": 3, "product_code": "P3", "unit_price": 9.5},
    }
    landing = tmp_path / "landing"
    for endpoint, record in records.items():
        (landing / endpoint).mkdir(parents=True)
        (landing / endpoint / "batch1.json").write_text(json.dumps(record) + "\n")
    staging = str(tmp_path / "staging")
    rc = main(["cycle", "--landing-root", str(landing), "--staging-root", staging,
               "--min-tables", "6"])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and report["status"] == "success"

    landed = sorted(os.listdir(staging))
    assert landed == sorted(STAGING_TABLES)
    try:
        bootstrap_catalog(spark, staging_root=staging)
        for t in landed:
            want = [(f.name, f.dataType) for f in STAGING_TABLES[t].fields]
            got = [(f.name, f.dataType) for f in spark.read.parquet(f"{staging}/{t}").schema]
            assert got == want, t
            assert len(spark.table(f"staging.{t}").collect()) == 1, t
    finally:
        for t in STAGING_TABLES:
            spark.sql(f"DROP TABLE IF EXISTS staging.{t}")


def test_cli_cycle_refuses_a_landed_table_of_another_shape(spark, tmp_path, capsys):
    """A ``misa_sale_orders_flattened`` directory landed in an older,
    38-column shape (``item_tax_percent`` a double) is refused before
    any write: the endpoint reports ``failed`` with the repair, and the
    directory's files are unchanged."""
    from pyspark.sql import types as T

    from facolos_data_pipelines_spark.catalog.schemas import STAGING_TABLES

    contract = STAGING_TABLES["misa_sale_orders_flattened"]
    old_shape = T.StructType(
        [f for f in contract.fields if f.name != "item_tax_percent"][:37]
        + [T.StructField("item_tax_percent", T.DoubleType())]
    )
    staging = tmp_path / "staging"
    landed = staging / "misa_sale_orders_flattened"
    spark.createDataFrame([tuple([None] * 38)], old_shape).write.parquet(str(landed))
    files = sorted(os.listdir(landed))

    landing = tmp_path / "landing" / "misa_sale_orders"
    landing.mkdir(parents=True)
    (landing / "batch1.json").write_text(json.dumps({
        "id": 7, "sale_order_no": "SO7",
        "sale_order_product_mappings": [{"id": 70, "tax_percent": "10"}],
    }) + "\n")
    main(["cycle", "--landing-root", str(tmp_path / "landing"),
          "--staging-root", str(staging), "--min-tables", "1"])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    entry = report["endpoints"]["misa_sale_orders"]
    assert entry["status"] == "failed"
    assert "item_tax_percent" in entry["error"]
    assert "rewrite the table under the contract" in entry["error"]
    assert sorted(os.listdir(landed)) == files

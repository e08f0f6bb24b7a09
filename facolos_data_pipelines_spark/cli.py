"""Command-line entry point — the reference's ``run_*.py`` scripts
(run_complete_backfill.py:422-460, run_historical_backfill.py:333-376,
dags/incremental_etl_dag.py) restated as one `python -m
facolos_data_pipelines_spark` CLI over landed-JSON sources.

The REST fetch itself stays a separate concern (sources/rest — network
credentials don't belong in a compute CLI); this entry point drives
everything AFTER landing: per-endpoint conform → PK-safe load →
control log → quality gate, exactly the §3.1 cycle. Landing layout::

    <landing-root>/<endpoint>/*.json      (one JSON object per line)

with endpoint directories named after the known sources
(``tiktok_shop_orders``, ``misa_sale_orders``, ``misa_customers``,
``misa_contacts``, ``misa_stocks``, ``misa_products``).

Subcommands:

- ``cycle``     one incremental cycle over whatever landed
- ``backfill``  one cycle per landed date window, then one final gate
- ``quality``   gate + per-table counts over the staging root
- ``export``    one staging table to CSV/xlsx for hand checks
- ``bootstrap`` create the catalog databases / control tables

Every subcommand prints ONE JSON report line to stdout (the
reference's XCom/report dict), so shells and schedulers can consume
it without parsing logs.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import DataFrame, SparkSession


def _tiktok_transform(raw: DataFrame, batch_id: str) -> DataFrame:
    from .catalog.schemas import TRUNCATION_WIDTHS
    from .operators.conform import flatten_tiktok_orders, truncate_strings

    return truncate_strings(flatten_tiktok_orders(raw, batch_id), TRUNCATION_WIDTHS)


def _misa_entity_transform(table: str):
    def transform(raw: DataFrame, batch_id: str) -> DataFrame:
        from .operators.conform import to_staging

        return to_staging(raw, table, batch_id, source="misa_crm_api")

    return transform


def _known_endpoints() -> dict[str, dict]:
    """Endpoint registry: raw schema (None = permissive inference over
    the landed JSON — the reference's pd.DataFrame(list_of_dicts)
    behavior), conform fn, staging table, business PKs, load mode."""
    from .catalog.schemas import (
        PRIMARY_KEYS,
        RAW_MISA_SALE_ORDER_SCHEMA,
        RAW_TIKTOK_ORDER_SCHEMA,
    )
    from .operators.conform import flatten_misa_sale_orders

    eps: dict[str, dict] = {
        "tiktok_shop_orders": {
            "raw_schema": RAW_TIKTOK_ORDER_SCHEMA,
            "transform": _tiktok_transform,
            "table": "tiktok_shop_order_detail",
            # business keys (PK minus etl_batch_id): replayed rows must
            # REJECT, not re-land under a fresh batch id
            "primary_keys": ["order_id", "item_id", "item_sku_id"],
            "load_mode": "append",
        },
        "misa_sale_orders": {
            "raw_schema": RAW_MISA_SALE_ORDER_SCHEMA,
            "transform": flatten_misa_sale_orders,
            "table": "misa_sale_orders_flattened",
            "primary_keys": PRIMARY_KEYS["misa_sale_orders_flattened"],
            "load_mode": "append",
        },
    }
    for name, table in [
        ("misa_customers", "misa_customers"),
        ("misa_contacts", "misa_contacts"),
        ("misa_stocks", "misa_stocks"),
        ("misa_products", "misa_products"),
    ]:
        eps[name] = {
            "raw_schema": None,
            "transform": _misa_entity_transform(table),
            "table": table,
            "primary_keys": PRIMARY_KEYS[table],
            "load_mode": "upsert",
        }
    return eps


def build_endpoints(spark: SparkSession, landing_root: str) -> list:
    """EndpointSpecs for every known endpoint directory under
    ``landing_root`` (priority order = the orchestrator's: sale orders
    first, run_complete_backfill.py:114-124). Unknown directories raise
    — a typo'd endpoint silently skipped would look like missing data
    downstream."""
    import os

    from .pipelines.runner import EndpointSpec

    known = _known_endpoints()
    present = sorted(
        d
        for d in os.listdir(landing_root)
        if os.path.isdir(os.path.join(landing_root, d))
    )
    unknown = [d for d in present if d not in known]
    if unknown:
        raise SystemExit(
            f"unknown endpoint dir(s) {unknown}; expected a subset of "
            f"{sorted(known)}"
        )
    priority = [n for n in (
        "misa_sale_orders",
        "tiktok_shop_orders",
        "misa_customers",
        "misa_contacts",
        "misa_stocks",
        "misa_products",
    ) if n in present]

    specs = []
    for name in priority:
        spec = known[name]
        path = os.path.join(landing_root, name)

        def extract(s: SparkSession, _path=path, _schema=spec["raw_schema"]):
            reader = s.read
            if _schema is not None:
                reader = reader.schema(_schema)
            return reader.json(_path)

        specs.append(
            EndpointSpec(
                name=name,
                extract=extract,
                transform=spec["transform"],
                primary_keys=spec["primary_keys"],
                load_mode=spec["load_mode"],
                staging_table=spec["table"],
            )
        )
    return specs


def _build_spark(app: str) -> SparkSession:
    from .session import build_spark

    return build_spark(app_name=app)


def cmd_cycle(args: argparse.Namespace) -> dict:
    from .pipelines.runner import run_incremental_cycle

    spark = _build_spark("facolos-cli-cycle")
    endpoints = build_endpoints(spark, args.landing_root)
    if not endpoints:
        raise SystemExit(f"no endpoint directories under {args.landing_root}")
    return run_incremental_cycle(
        spark,
        endpoints,
        args.staging_root,
        control_root=args.control_root,
        min_tables_with_data=args.min_tables,
        registry_path=args.registry,
    )


def cmd_backfill(args: argparse.Namespace) -> dict:
    """Historical backfill (§3.2-3.3): the landing root holds one
    sub-directory per date window (the reference's 30-day batches,
    run_historical_backfill.py:32-39), each containing endpoint dirs::

        <landing-root>/<window>/<endpoint>/*.json

    Windows run sequentially in name order; PK-safe loads make
    re-running a window idempotent (the reference's MERGE semantics).
    The report nests one cycle report per window; the quality gate that
    decides the EXIT CODE runs once over the full staging root AFTER
    all windows (the reference verifies at the end of the backfill,
    §3.2 Phase 3 — an early window gating on a partially-landed
    catalog would be noise, not signal)."""
    import os

    from .pipelines.runner import run_incremental_cycle
    from .quality.checks import gate_report

    spark = _build_spark("facolos-cli-backfill")
    windows = sorted(
        d
        for d in os.listdir(args.landing_root)
        if os.path.isdir(os.path.join(args.landing_root, d))
    )
    if not windows:
        raise SystemExit(f"no window directories under {args.landing_root}")
    report: dict = {"windows": {}, "status": "success"}
    for w in windows:
        endpoints = build_endpoints(spark, os.path.join(args.landing_root, w))
        if not endpoints:
            report["windows"][w] = {"status": "empty"}
            continue
        cycle = run_incremental_cycle(
            spark,
            endpoints,
            args.staging_root,
            control_root=args.control_root,
            min_tables_with_data=args.min_tables,
        )
        report["windows"][w] = cycle
        if cycle["status"] != "success":
            report["status"] = "partial"
    # final verification over everything landed (reference Phase 3);
    # this top-level gate is what drives the exit code
    report["quality"] = gate_report(
        _staging_tables(spark, args.staging_root), args.min_tables
    )
    return report


def _staging_tables(spark: SparkSession, staging_root: str) -> dict[str, DataFrame]:
    """Every table directory under ``staging_root`` (none when the root
    does not exist), by name."""
    import os

    if not os.path.isdir(staging_root):
        return {}
    return {
        d: spark.read.parquet(os.path.join(staging_root, d))
        for d in sorted(os.listdir(staging_root))
        if os.path.isdir(os.path.join(staging_root, d))
    }


def cmd_quality(args: argparse.Namespace) -> dict:
    from .quality.checks import gate_report, multi_table_summary

    spark = _build_spark("facolos-cli-quality")
    tables = _staging_tables(spark, args.staging_root)
    if not tables:
        raise SystemExit(f"no staging tables under {args.staging_root}")
    rows = multi_table_summary(tables).collect()
    return {
        "tables": {r["table_name"]: int(r["records"]) for r in rows},
        **gate_report(tables, args.min_tables),
    }


def cmd_export(args: argparse.Namespace) -> dict:
    """Hand-check export (S14): one staging table to CSV or xlsx — the
    reference notebooks' manual-inspection artifacts."""
    import os

    from .sources.io import write_csv, write_xlsx

    spark = _build_spark("facolos-cli-export")
    table_path = os.path.join(args.staging_root, args.table)
    df = spark.read.parquet(table_path)
    if args.fmt == "csv":
        # same hand-check cap semantics as xlsx: raise, never truncate
        n = df.count()
        if n > args.max_rows:
            raise SystemExit(
                f"export: {args.table} has {n} rows > --max-rows "
                f"{args.max_rows}; hand-check exports are capped — raise "
                "the cap explicitly or filter first"
            )
        write_csv(df, args.out)
    else:
        n = write_xlsx(df, args.out, max_rows=args.max_rows)
    return {"table": args.table, "format": args.fmt, "rows": n,
            "out": args.out, "status": "success"}


def cmd_bootstrap(args: argparse.Namespace) -> dict:
    from .catalog.bootstrap import bootstrap_catalog

    spark = _build_spark("facolos-cli-bootstrap")
    executed = bootstrap_catalog(spark, staging_root=args.staging_root)
    return {"statements": len(executed), "status": "success"}


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        prog="facolos_data_pipelines_spark",
        description="PySpark-native ELT engine CLI (cycle / quality / bootstrap)",
    )
    sub = parser.add_subparsers(dest="command", required=True)

    p_cycle = sub.add_parser("cycle", help="run one incremental cycle")
    p_cycle.add_argument("--landing-root", required=True)
    p_cycle.add_argument("--staging-root", required=True)
    p_cycle.add_argument("--control-root", default=None)
    p_cycle.add_argument("--registry", default=None)
    p_cycle.add_argument("--min-tables", type=int, default=5)
    p_cycle.set_defaults(func=cmd_cycle)

    p_bf = sub.add_parser(
        "backfill", help="historical backfill: one cycle per window directory"
    )
    p_bf.add_argument("--landing-root", required=True)
    p_bf.add_argument("--staging-root", required=True)
    p_bf.add_argument("--control-root", default=None)
    p_bf.add_argument("--min-tables", type=int, default=5)
    p_bf.set_defaults(func=cmd_backfill)

    p_q = sub.add_parser("quality", help="quality gate over staging tables")
    p_q.add_argument("--staging-root", required=True)
    p_q.add_argument("--min-tables", type=int, default=5)
    p_q.set_defaults(func=cmd_quality)

    p_e = sub.add_parser("export", help="export a staging table to CSV/xlsx")
    p_e.add_argument("--staging-root", required=True)
    p_e.add_argument("--table", required=True)
    p_e.add_argument("--out", required=True)
    p_e.add_argument("--format", dest="fmt", choices=["csv", "xlsx"],
                     default="csv")
    p_e.add_argument("--max-rows", type=int, default=100_000)
    p_e.set_defaults(func=cmd_export)

    p_b = sub.add_parser("bootstrap", help="create catalog databases/control tables")
    p_b.add_argument("--staging-root", default=None)
    p_b.set_defaults(func=cmd_bootstrap)

    args = parser.parse_args(argv)
    report = args.func(args)
    print(json.dumps(report, default=str))
    # the reference's orchestrator exit semantics: partial failures AND
    # failed quality gates exit nonzero so schedulers alert
    # (production_etl_orchestrator.py). The cycle report nests the gate
    # under "quality"; the quality subcommand reports it top-level.
    status_ok = (
        report.get("status", "success") == "success"
        and report.get("passed", True)
        and report.get("quality", {}).get("passed", True)
    )
    return 0 if status_ok else 1


if __name__ == "__main__":  # pragma: no cover — exercised via tests calling main()
    sys.exit(main())

"""Pipeline runner — the batch driver reproducing SURVEY.md §3.1-3.3.

The reference orchestrates with Airflow DAGs (10-min incremental cycle,
complete/historical backfills); here each cycle is a plain function over
Spark plans: per endpoint extract → conform → load (append-dedup or
merge-upsert) → stats, then the §5 quality gate, with a `batch_runs`
control-table row per run (create_facolos_enterprise_schemas.sql:79-91).
That log is the only cycle record: ``quality.monitor.cycles_from_runs``
derives the monitor's cycle rows from it. Backfills are the CLI's
``backfill`` subcommand, one cycle per landed window.

Where the reference materialized at every stage boundary (XCom JSON,
/tmp parquet — dags/tiktok_shop_orders_etl_dag.py:83-185), a cycle here
is one lazy plan per endpoint: the only materializations are the final
staging write and the tiny metric aggregates. Control rows (the
``batch_runs`` log, the registry) enter Spark as Arrow-built local
relations (``session.local_frame``), so the control plane starts no
Python worker. Endpoints are independent
and can run concurrently; priority ordering is preserved as input order
(production_etl_orchestrator.py:136-145 — business value under a time
budget, not a correctness constraint).
"""

from __future__ import annotations

import datetime as dt
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..catalog.schemas import BATCH_RUNS_SCHEMA
from ..quality.checks import gate_report
from ..session import local_frame
from ..sources.io import append_with_pk_rejection, table_exists, upsert_parquet


@dataclass
class EndpointSpec:
    """One source endpoint: how to extract, conform, and land it."""

    name: str
    extract: Callable[[SparkSession], DataFrame]
    transform: Callable[[DataFrame, str], DataFrame]  # (raw, batch_id) -> conformed
    primary_keys: list[str]
    load_mode: str = "append"  # append (PK-rejected) | upsert
    order_col: str = "etl_updated_at"
    staging_table: str = field(default="")
    # Upsert mode only: partition columns for the PARTITION-SCOPED merge
    # (sources/io.upsert_parquet) — only touched partitions are read and
    # rewritten per cycle. Values MUST be stable per primary key (a
    # creation date/time qualifies; a mutable status column does NOT —
    # the scoped merge would leave the key's old row in its old
    # partition).
    partition_by: list[str] | None = None

    def table(self) -> str:
        return self.staging_table or self.name


def _log_run(
    spark: SparkSession,
    control_root: str,
    batch_id: str,
    source: str,
    table: str,
    status: str,
    records: int,
    started: dt.datetime,
    error: str | None = None,
) -> None:
    """Append one batch_runs row (the reference's ETL-control log)."""
    row = [
        (
            batch_id,
            source,
            table,
            status,
            records,
            records,
            started,
            dt.datetime.now(dt.timezone.utc).replace(tzinfo=None),
            error,
        )
    ]
    local_frame(spark, row, BATCH_RUNS_SCHEMA).write.mode("append").parquet(
        f"{control_root}/batch_runs"
    )


def run_incremental_cycle(
    spark: SparkSession,
    endpoints: list[EndpointSpec],
    staging_root: str,
    control_root: str | None = None,
    min_tables_with_data: int = 5,
    registry_path: str | None = None,
    now: dt.datetime | None = None,
) -> dict:
    """One incremental cycle (§3.1): per endpoint in priority order,
    extract → transform → PK-rejected append (or merge upsert), then the
    ≥N-tables-non-empty quality gate. Returns the cycle report dict the
    reference pushed to XCom (dags/incremental_etl_dag.py:174-176).

    With ``registry_path``, the data_sources control table decides what
    runs (create_facolos_enterprise_schemas.sql:98-119): endpoints whose
    source is not due (last_extract_time newer than its
    extract_frequency_hours) are skipped with status
    ``skipped_not_due``, and last_extract_time advances for every
    successfully-extracted source after the cycle. Endpoints without a
    registry row always run (opt-in scheduling, matching the
    orchestrator's fallback). ``now`` pins the clock for tests."""
    from .registry import due_sources, mark_extracted

    batch_id = str(uuid.uuid4())
    started = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    report: dict = {"batch_id": batch_id, "endpoints": {}, "status": "success"}

    due: set[str] | None = None
    registered: set[str] = set()
    if registry_path is not None and table_exists(spark, registry_path):
        # Missing registry table -> no scheduling constraint (everything
        # runs), matching the unregistered-endpoint fallback below.
        from .registry import load_registry

        registered = {
            r["source_name"]
            for r in load_registry(spark, registry_path).select("source_name").collect()
        }
        due = due_sources(spark, registry_path, now)

    extracted_ok: list[str] = []
    for ep in endpoints:
        if due is not None and ep.name in registered and ep.name not in due:
            report["endpoints"][ep.name] = {"status": "skipped_not_due"}
            continue
        t0 = time.time()
        path = f"{staging_root}/{ep.table()}"
        try:
            conformed = ep.transform(ep.extract(spark), batch_id)
            # Both loaders checkpoint the extract→conform plan once and
            # return the rows loaded, counted on that checkpoint's job.
            if ep.load_mode == "upsert":
                n = upsert_parquet(
                    spark, conformed, path, ep.primary_keys, ep.order_col,
                    partition_by=ep.partition_by,
                )
            else:
                n = append_with_pk_rejection(spark, conformed, path, ep.primary_keys)
            report["endpoints"][ep.name] = {
                "status": "success",
                "records": n,
                "seconds": round(time.time() - t0, 3),
            }
            extracted_ok.append(ep.name)
            if control_root:
                _log_run(
                    spark, control_root, batch_id, ep.name, ep.table(), "success", n, started
                )
        except Exception as exc:  # noqa: BLE001 — cycle continues per reference
            report["endpoints"][ep.name] = {"status": "failed", "error": str(exc)}
            report["status"] = "partial"
            if control_root:
                _log_run(
                    spark,
                    control_root,
                    batch_id,
                    ep.name,
                    ep.table(),
                    "failed",
                    0,
                    started,
                    error=str(exc),
                )

    if registry_path is not None and extracted_ok:
        mark_extracted(
            spark,
            registry_path,
            [n for n in extracted_ok if n in registered],
            now,
        )

    # §5 data-quality gate over the landed staging tables.
    landed = {
        ep.table(): spark.read.parquet(f"{staging_root}/{ep.table()}")
        for ep in endpoints
        if table_exists(spark, f"{staging_root}/{ep.table()}")
    }
    if landed:
        report["quality"] = gate_report(landed, min_tables_with_data)
    return report


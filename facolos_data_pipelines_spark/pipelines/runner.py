"""Pipeline runner — the batch driver reproducing SURVEY.md §3.1-3.3.

The reference orchestrates with Airflow DAGs (10-min incremental cycle,
complete/historical backfills); here each cycle is a plain function over
Spark plans: per endpoint extract → conform → load (append-dedup or
merge-upsert) → stats, then the §5 quality gate, with a `batch_runs`
control-table row per endpoint run (create_facolos_enterprise_schemas.sql:79-91).
That log is the only cycle record: ``quality.monitor.cycles_from_runs``
derives the monitor's cycle rows from it. Backfills are the CLI's
``backfill`` subcommand, one cycle per landed window.

Where the reference materialized at every stage boundary (XCom JSON,
/tmp parquet — dags/tiktok_shop_orders_etl_dag.py:83-185), a cycle here
is one lazy plan per endpoint: the only materializations are the final
staging write and the tiny metric aggregates. Control rows (the
``batch_runs`` log, the registry) enter Spark as Arrow-built local
relations (``session.local_frame``), so the control plane starts no
Python worker.

Endpoints are independent, so a cycle runs them concurrently on a
small thread pool: one worker per staging table, the endpoints sharing
a table in input order inside it (PK rejection and upserts on one table
keep their order), tables submitted in priority (input) order
(production_etl_orchestrator.py:136-145 — business value under a time
budget, not a correctness constraint). Every Spark job here is small
and fixed-cost, so one endpoint at a time leaves most cores idle. The
cycle's ``batch_runs`` rows are written once, after the pool joins: a
process killed mid-cycle leaves landed but unlogged tables, and a
re-run is idempotent because every load is PK-rejected or an upsert.
"""

from __future__ import annotations

import contextvars
import datetime as dt
import time
import uuid
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

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


def _utcnow() -> dt.datetime:
    return dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)


def _run_row(
    batch_id: str,
    ep: EndpointSpec,
    status: str,
    records: int,
    started: dt.datetime,
    error: str | None = None,
) -> tuple:
    """One batch_runs row (the reference's ETL-control log), finished now."""
    return (
        batch_id, ep.name, ep.table(), status, records, records, started, _utcnow(), error,
    )


def _run_group(
    spark: SparkSession,
    group: list[EndpointSpec],
    staging_root: str,
    batch_id: str,
    started: dt.datetime,
) -> list[tuple[dict, tuple]]:
    """Land the endpoints of one staging table in order: extract →
    transform → PK-rejected append (or merge upsert). Returns each
    endpoint's report entry and batch_runs row; a raising endpoint
    fails alone."""
    out = []
    for ep in group:
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
        except Exception as exc:  # noqa: BLE001 — cycle continues per reference
            entry = {"status": "failed", "error": str(exc)}
            out.append((entry, _run_row(batch_id, ep, "failed", 0, started, str(exc))))
            continue
        entry = {"status": "success", "records": n, "seconds": round(time.time() - t0, 3)}
        out.append((entry, _run_row(batch_id, ep, "success", n, started)))
    return out


def run_incremental_cycle(
    spark: SparkSession,
    endpoints: list[EndpointSpec],
    staging_root: str,
    control_root: str | None = None,
    min_tables_with_data: int = 5,
    registry_path: str | None = None,
    now: dt.datetime | None = None,
) -> dict:
    """One incremental cycle (§3.1): extract → transform → PK-rejected
    append (or merge upsert) per endpoint, then the ≥N-tables-non-empty
    quality gate. Returns the cycle report dict the reference pushed to
    XCom (dags/incremental_etl_dag.py:174-176).

    Endpoints run concurrently, one worker per staging table
    (``ep.table()``): the endpoints of one table run in one worker in
    input order, so PK rejection and upserts on a table keep their
    order. Tables are submitted in input (priority) order to a pool of
    ``min(#tables, defaultParallelism)`` threads; each task runs with
    its own copy of the caller's Spark local properties and tags and of
    its context variables (``eager.plan_only_mode``). A raising
    endpoint fails alone and makes the report ``partial``;
    ``report["endpoints"]`` keeps input order.

    With ``control_root``, the cycle's ``batch_runs`` rows — one per
    endpoint, ``finished_at`` stamped when that endpoint ended — land
    as ONE append after every worker joined: concurrent appends to one
    parquet path share its ``_temporary/`` directory and can fail each
    other's commit. A process killed mid-cycle therefore leaves
    landed but unlogged tables; re-running the cycle is idempotent,
    as every load is PK-rejected or an upsert.

    With ``registry_path``, the data_sources control table decides what
    runs (create_facolos_enterprise_schemas.sql:98-119): endpoints whose
    source is not due (last_extract_time newer than its
    extract_frequency_hours) are skipped with status
    ``skipped_not_due`` (logged with 0 records, so a cycle where no
    source was due still reaches the monitor), and last_extract_time
    advances for every successfully-extracted source after the cycle.
    Endpoints without a registry row always run (opt-in scheduling,
    matching the orchestrator's fallback). ``now`` pins the clock for
    tests."""
    from .registry import due_sources, mark_extracted

    batch_id = str(uuid.uuid4())
    started = _utcnow()
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

    # (report entry, batch_runs row) per endpoint, in input order
    outcomes: list = [None] * len(endpoints)
    groups: dict[str, list[int]] = {}
    for i, ep in enumerate(endpoints):
        if due is not None and ep.name in registered and ep.name not in due:
            outcomes[i] = (
                {"status": "skipped_not_due"},
                _run_row(batch_id, ep, "skipped_not_due", 0, started),
            )
        else:
            groups.setdefault(ep.table(), []).append(i)
    if groups:
        workers = min(len(groups), spark.sparkContext.defaultParallelism)
        with ThreadPoolExecutor(max_workers=workers) as pool:
            # One property clone and one context copy per task: a clone
            # shared by two threads leaks one's setLocalProperty into
            # the other.
            futures = [
                pool.submit(
                    contextvars.copy_context().run,
                    inheritable_thread_target(spark)(_run_group),
                    spark, [endpoints[i] for i in idx], staging_root, batch_id, started,
                )
                for idx in groups.values()
            ]
            for idx, fut in zip(groups.values(), futures):
                for i, outcome in zip(idx, fut.result()):
                    outcomes[i] = outcome

    for ep, (entry, _) in zip(endpoints, outcomes):
        report["endpoints"][ep.name] = entry
    if any(entry["status"] == "failed" for entry, _ in outcomes):
        report["status"] = "partial"
    if control_root and outcomes:
        # one file per cycle: a local relation of n rows is otherwise
        # written as min(n, defaultParallelism) files
        log = local_frame(spark, [row for _, row in outcomes], BATCH_RUNS_SCHEMA)
        log.coalesce(1).write.mode("append").parquet(f"{control_root}/batch_runs")

    if registry_path is not None:
        mark_extracted(
            spark,
            registry_path,
            [
                ep.name
                for ep, (entry, _) in zip(endpoints, outcomes)
                if entry["status"] == "success" and ep.name in registered
            ],
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

"""Data-source registry — the reference's extract-scheduling control
table (sql/staging/create_facolos_enterprise_schemas.sql:98-119).

The reference decides WHAT to extract each cycle from the
``data_sources`` table: a source is due when ``is_active`` and
``last_extract_time`` is older than ``extract_frequency_hours``; the
orchestrator updates ``last_extract_time`` after a successful extract.
Here the registry is a tiny parquet control table (one row per source)
read/written whole — it is metadata, not data; collect() over it is
correct, not a scale smell.

DATA_SOURCES_SCHEMA lives in catalog.schemas (source_name, platform,
extract_frequency_hours, last_extract_time, is_active).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog.schemas import DATA_SOURCES_SCHEMA
from ..eager import materialize_counted
from ..session import local_frame
from ..sources.io import table_exists


def seed_data_sources(
    spark: SparkSession,
    path: str,
    sources: list[tuple[str, str, float]],
    overwrite: bool = False,
) -> None:
    """Seed the registry with (source_name, platform,
    extract_frequency_hours) rows — the reference's INSERT seed block
    (create_facolos_enterprise_schemas.sql:110-119). last_extract_time
    starts NULL (= immediately due), is_active true. Tolerate-exists
    unless ``overwrite``."""
    if table_exists(spark, path) and not overwrite:
        return
    rows = [(name, platform, float(freq), None, True) for name, platform, freq in sources]
    local_frame(spark, rows, DATA_SOURCES_SCHEMA).write.mode("overwrite").parquet(path)


def load_registry(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(DATA_SOURCES_SCHEMA).parquet(path)


def due_sources(
    spark: SparkSession, path: str, now: dt.datetime | None = None
) -> set[str]:
    """Source names due for extraction: active AND (never extracted OR
    last extract older than the per-source frequency). Mirrors the
    orchestrator's registry read
    (production_etl_orchestrator.py source selection)."""
    now = now or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    reg = load_registry(spark, path)
    due = reg.filter(
        F.col("is_active")
        & (
            F.col("last_extract_time").isNull()
            | (
                F.unix_timestamp("last_extract_time")
                + F.col("extract_frequency_hours") * 3600
                <= F.unix_timestamp(F.lit(now))
            )
        )
    )
    return {r["source_name"] for r in due.select("source_name").collect()}


def mark_extracted(
    spark: SparkSession,
    path: str,
    source_names: set[str] | list[str],
    now: dt.datetime | None = None,
) -> None:
    """Advance last_extract_time for the given sources — the
    reference's post-cycle UPDATE. Read-modify-overwrite of the tiny
    control table, eagerly materialized before the overwrite."""
    if not source_names:
        return
    now = now or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    names = list(source_names)
    reg = load_registry(spark, path)
    stamp = F.when(F.col("source_name").isin(names), F.lit(now)).otherwise(
        F.col("last_extract_time")
    )
    updated, _ = materialize_counted(reg.withColumn("last_extract_time", stamp))
    updated.write.mode("overwrite").parquet(path)

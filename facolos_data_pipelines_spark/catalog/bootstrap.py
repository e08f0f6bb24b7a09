"""Catalog bootstrap — SURVEY.md §2.1 S13 (the DDL executor) restated.

The reference bootstraps SQL Server by splitting .sql files on GO and
executing batch-by-batch, tolerating already-exists
(src/utils/database.py:95-123, create_complete_database_setup.py:221-282).
Here the schema contract lives in code (catalog.schemas StructTypes);
bootstrap creates the per-platform namespaces and registers the staging
tables so the whole surface is queryable via spark.sql.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..sources.io import _hadoop_fs
from .schemas import STAGING_TABLES

# One namespace per platform — mirrors the reference's enterprise schema
# layout (config/settings.py:57-80, create_facolos_enterprise_schemas.sql).
NAMESPACES = [
    "staging",
    "data_mart",
    "etl_control",
]


def bootstrap_catalog(
    spark: SparkSession, staging_root: str | None = None
) -> list[str]:
    """Create namespaces and register staging tables (idempotent —
    IF NOT EXISTS everywhere, the reference's tolerate-already-exists).

    With ``staging_root``, each staging table is registered as an
    external table over ``{root}/{name}`` if data exists there;
    otherwise an empty managed table with the declared contract schema
    is created. Returns the list of statements executed.
    """
    executed: list[str] = []
    for ns in NAMESPACES:
        stmt = f"CREATE DATABASE IF NOT EXISTS {ns}"
        spark.sql(stmt)
        executed.append(stmt)
    for name, schema in STAGING_TABLES.items():
        full = f"staging.{name}"
        if spark.catalog.tableExists(full):
            executed.append(f"-- exists: {full}")
            continue
        kwargs: dict = {"source": "parquet", "schema": schema}
        if staging_root:
            path = f"{staging_root}/{name}"
            # createTable resolves the location eagerly — make sure it
            # exists (works for local/HDFS/object-store paths alike)
            fs, jpath = _hadoop_fs(spark, path)
            fs.mkdirs(jpath)
            kwargs["path"] = path
        spark.catalog.createTable(full, **kwargs)
        executed.append(f"CREATE TABLE {full}")
    return executed

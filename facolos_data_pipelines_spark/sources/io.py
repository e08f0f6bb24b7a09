"""Staging-table IO — SURVEY.md §2.1 S7–S12 re-expressed on files.

The reference lands into SQL Server tables; this engine lands into
partitioned parquet (Delta-ready: the write modes map 1:1 onto Delta
operations when its jars are present — gated behind import-try since
the v1 image ships without them). JDBC remains available for real
SQL Server targets via ``write_jdbc``.

Scale notes: every writer takes ``partition_by`` — staging tables
should partition on ingest date (etl_date) so retention deletes and
incremental reads prune partitions instead of scanning 100 TB.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..eager import materialize_counted
from ..operators.incremental import retention_filter
from ..operators.merge import append_dedup, merge_upsert

try:  # Delta is optional — not in the v1 image.
    from delta.tables import DeltaTable  # type: ignore

    HAS_DELTA = True
except Exception:  # pragma: no cover
    DeltaTable = None
    HAS_DELTA = False


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S7 — inter-stage parquet scan (columnar, pushdown-capable)."""
    return spark.read.parquet(path)


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for any Hadoop-resolvable URI — file://, hdfs://,
    s3a://, ... — via the session's Hadoop configuration."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def table_exists(spark: SparkSession, path: str) -> bool:
    """Hadoop-FS existence probe (works for local/HDFS/object stores) —
    avoids try/except-on-read, which logs a spurious ERROR stack."""
    fs, jpath = _hadoop_fs(spark, path)
    return bool(fs.exists(jpath))


def write_append(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """S8/S10 'append' — ``to_sql(if_exists='append')`` analogue."""
    w = df.write.mode("append")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_replace(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """S10 'replace' (drop+recreate) — full overwrite incl. schema."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def overwrite_partitions(df: DataFrame, path: str, partition_by: list[str]) -> None:
    """Dynamic partition overwrite: replace exactly the ``partition_by``
    partitions ``df`` holds and leave every other partition of ``path``
    as it is (an empty ``df`` changes nothing). Rewriting the same rows
    lands them once — the exactly-once effect of a redelivered
    micro-batch tagged with its id, or of a partition-scoped merge."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_truncate_insert(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """S10 'truncate_insert' — TRUNCATE keeps the table definition and
    reloads (database.py:184-210). On files this is overwrite with the
    existing schema contract enforced by the caller's align step."""
    write_replace(df, path, partition_by)


def append_with_pk_rejection(
    spark: SparkSession, incoming: DataFrame, path: str, keys: list[str]
) -> int:
    """Incremental append, PK duplicates rejected (left-anti against the
    landed table) — tiktok_shop_staging_loader.py:144-149 semantics.
    Returns rows actually appended.

    The anti-joined plan is eagerly materialized ONCE, with its row
    count observed on the same job, before the write: the
    extract→conform→anti-join plan executes once per cycle.

    A landed table whose ``(name, dataType)`` list differs from
    ``incoming``'s (the contract-aligned frame) is refused before any
    write: the anti join reads only the key columns, so files of
    another shape would otherwise land beside the old ones and leave a
    table no reader can collect. The check reads the landed schema
    Spark already resolved, so it costs no job."""
    existing = spark.read.parquet(path) if table_exists(spark, path) else None
    if existing is not None:
        _refuse_other_schema(path, existing.schema, incoming.schema)
    fresh = incoming if existing is None else append_dedup(existing, incoming, keys)
    fresh, n = materialize_counted(fresh)
    if n:
        fresh.write.mode("append").parquet(path)
    return n


def _refuse_other_schema(path: str, landed: T.StructType, incoming: T.StructType) -> None:
    """Raise when the table landed at ``path`` does not have the
    incoming frame's columns, in its order, with its types."""
    have = {f.name: f.dataType for f in landed.fields}
    want = {f.name: f.dataType for f in incoming.fields}
    if list(have.items()) == list(want.items()):
        return

    def names(cols: list[str]) -> str:
        return ", ".join(cols[:5]) + (f" and {len(cols) - 5} more" if len(cols) > 5 else "")

    differ = [
        f"{label}: {names(cols)}"
        for label, cols in (
            ("retyped", [
                f"{n} {t.simpleString()} -> {want[n].simpleString()}"
                for n, t in have.items() if n in want and want[n] != t
            ]),
            ("landed only", [n for n in have if n not in want]),
            ("incoming only", [n for n in want if n not in have]),
        )
        if cols
    ] or ["the column order"]
    raise ValueError(
        f"landed table at {path!r} ({len(have)} columns) differs from the "
        f"incoming frame ({len(want)} columns) in {'; '.join(differ)}. Refusing "
        "to append: rewrite the table under the contract, or move it aside so "
        "the next cycle lands a new one"
    )


def upsert_parquet(
    spark: SparkSession,
    incoming: DataFrame,
    path: str,
    keys: list[str],
    order_col: str = "etl_updated_at",
    partition_by: list[str] | None = None,
) -> int:
    """S11 MERGE upsert onto a parquet staging table; returns the rows
    loaded (the incoming row count).

    ``incoming`` is eagerly materialized ONCE, with its row count
    observed on the same job: every read below (the touched-partition
    collect, the merge, a first write) reuses those blocks, so the
    extract→conform plan executes once per cycle.

    Uses Delta ``MERGE INTO`` when available (partition-pruned, the
    100 TB path). The parquet fallback has two modes:

    - ``partition_by`` given: PARTITION-SCOPED merge — read only the
      partitions the incoming batch touches (partition pruning on the
      scan), merge, and dynamic-partition-overwrite exactly those
      partitions. Untouched partitions' files are never read or
      rewritten, so the per-cycle cost is O(touched partitions), not
      O(table) — the 100x-safe parquet path. CONTRACT: partition
      columns must be stable per key (a key never moves partitions);
      a key that changed partition value would leave its old row
      behind. Staging tables partitioned on a key-derived date (e.g.
      order date, not etl_date) satisfy this.
    - no ``partition_by``: union + last-writer-wins over the whole
      table, eagerly materialized via localCheckpoint so overwriting
      the path we just read is safe. Acceptable for small staging
      tables only.
    """
    incoming, n = materialize_counted(incoming)
    if HAS_DELTA and DeltaTable is not None and DeltaTable.isDeltaTable(spark, path):
        cond = " AND ".join(f"t.{k} <=> s.{k}" for k in keys)
        (
            DeltaTable.forPath(spark, path)
            .alias("t")
            .merge(incoming.alias("s"), cond)
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )
        return n
    out = incoming
    if table_exists(spark, path):
        existing = spark.read.parquet(path)
        if partition_by:
            import functools
            import operator

            # Touched-partition values: bounded by partitions-per-batch
            # (metadata-scale), not rows — safe to collect.
            touched = incoming.select(*partition_by).dropDuplicates().collect()
            if not touched:
                return n
            pred = functools.reduce(
                operator.or_,
                [
                    functools.reduce(
                        operator.and_,
                        [F.col(c).eqNullSafe(F.lit(row[c])) for c in partition_by],
                    )
                    for row in touched
                ],
            )
            existing = existing.filter(pred)  # partition pruning: only touched files
        out, _ = materialize_counted(merge_upsert(existing, incoming, keys, order_col))
    if partition_by:
        overwrite_partitions(out, path, partition_by)
    else:
        write_replace(out, path)
    return n


def apply_retention(
    spark: SparkSession,
    path: str,
    ts_col: str,
    retention_days: int,
    now: dt.datetime | None = None,
) -> int:
    """S12 retention delete; returns rows removed
    (misa_crm_loader.py:384-427). On a date-partitioned layout this
    becomes a partition drop — O(partitions), not O(rows)."""
    df = spark.read.parquet(path)
    total = df.count()
    kept, n_kept = materialize_counted(retention_filter(df, ts_col, retention_days, now))
    kept.write.mode("overwrite").parquet(path)
    return total - n_kept


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Bucketed (and optionally sorted) managed-table write — the
    co-located-join layout: two tables bucketed on the same key with the
    same bucket count join WITHOUT a shuffle (both sides already hash-
    partitioned on disk), and sorted buckets skip the sort phase of
    sort-merge join. This is the Spark replacement for the reference's
    secondary indexes on join/filter keys (SURVEY §4: physical-index
    row) and the bucketing slot called out in SCALE.md for the
    lineitem ⋈ orders flagship at 100 TB.
    """
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:  # external table (warehouse dir is a static conf)
        w = w.option("path", path)
    w.saveAsTable(table_name)


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    bits: int = 16,
    num_files: int = 32,
) -> None:
    """Z-order-clustered parquet write — multi-dimensional data
    skipping for plain parquet, the layout half of
    ``operators/skew.zorder_key``.

    Rows are range-partitioned AND sorted by the interleaved Morton
    key, so each output file covers a compact hyper-rectangle of the
    key space: a selective predicate on ANY z-ordered dimension then
    touches a small fraction of files/row-groups (parquet min/max
    stats + pushed filters skip the rest). This is what Delta/Iceberg
    ``OPTIMIZE ZORDER BY`` does, expressed with stock Spark writes —
    the right layout when queries filter on several independent
    columns and bucketing can only serve one join key. One range
    shuffle (sampled boundaries) per write; ``num_files`` sizes the
    output for the ~128 MB-file sweet spot at the target scale.
    ``zorder_cols`` must already be non-negative ints < 2^bits (bucket
    or bin them first — see zorder_key's contract).
    """
    from ..operators.skew import zorder_key

    key = zorder_key(zorder_cols, bits)
    (
        df.withColumn("_zkey", key)
        .repartitionByRange(num_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batchsize: int = 1000,
    properties: dict[str, str] | None = None,
) -> None:
    """S8 JDBC sink — the reference's chunked ``to_sql``/pyodbc
    executemany with batch 1000 (misa_crm_loader.py:181-205,
    config/production.py:28) maps to the JDBC writer's batchsize."""
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .mode(mode)
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


def write_csv(df: DataFrame, path: str) -> None:
    """S14 — CSV export (utf-8 is Spark's default; the reference's
    utf-8-sig BOM was an Excel-compat detail)."""
    df.write.mode("overwrite").option("header", "true").csv(path)


def write_xlsx(df: DataFrame, path: str, sheet: str = "Sheet1",
               max_rows: int = 100_000) -> int:
    """S14 — single-sheet .xlsx export via stdlib zipfile (xlsx is a
    zip of XML parts; no Excel library needed). The reference exports
    flattened orders to xlsx for MANUAL inspection
    (docs/tiktok_shop_api_fixed.ipynb cell 25, RequestsAPI_MISA_CRM
    cell 18) — a driver-side, human-scale artifact by nature, so this
    deliberately collects (capped at ``max_rows``; exceeding the cap
    raises rather than silently truncating a hand-check file). All
    values land as inline strings (NULL → empty cell), which is what a
    hand-check needs; typed analytics exports stay parquet/CSV.
    Returns the number of data rows written."""
    import re
    import zipfile
    from xml.sax.saxutils import escape, quoteattr

    # XML 1.0 forbids most control characters even escaped; a scraped
    # text field containing \x03 would otherwise corrupt the sheet.
    _ctrl = re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f]")

    def _xml_text(v) -> str:
        return escape(_ctrl.sub("", str(v)))

    head = df.limit(max_rows + 1).collect()
    if len(head) > max_rows:
        raise ValueError(
            f"write_xlsx: result exceeds max_rows={max_rows}; xlsx is for "
            "human-scale inspection — export parquet/CSV instead, or raise "
            "the cap explicitly"
        )
    cols = df.columns

    def row_xml(r: int, values: list) -> str:
        cells = []
        for v in values:
            if v is None:
                cells.append("<c t=\"inlineStr\"><is><t/></is></c>")
            else:
                cells.append(
                    f"<c t=\"inlineStr\"><is><t xml:space=\"preserve\">"
                    f"{_xml_text(v)}</t></is></c>"
                )
        return f"<row r=\"{r}\">" + "".join(cells) + "</row>"

    rows_xml = [row_xml(1, cols)] + [
        row_xml(i + 2, [row[c] for c in cols]) for i, row in enumerate(head)
    ]
    sheet_xml = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/'
        'spreadsheetml/2006/main"><sheetData>'
        + "".join(rows_xml)
        + "</sheetData></worksheet>"
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-'
        'package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.'
        'openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/'
        'vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        "</Types>"
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/'
        'relationships"><Relationship Id="rId1" Type="http://schemas.'
        'openxmlformats.org/officeDocument/2006/relationships/officeDocument" '
        'Target="xl/workbook.xml"/></Relationships>'
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/'
        'main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/'
        f'relationships"><sheets><sheet name={quoteattr(_ctrl.sub("", sheet))} '
        'sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/'
        'relationships"><Relationship Id="rId1" Type="http://schemas.'
        'openxmlformats.org/officeDocument/2006/relationships/worksheet" '
        'Target="worksheets/sheet1.xml"/></Relationships>'
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", content_types)
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        z.writestr("xl/worksheets/sheet1.xml", sheet_xml)
    return len(head)


def _parquet_files(path: str) -> list[str]:
    found = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return [f for f in found if os.path.isfile(f)]


def _parquet_rows(files: list[str]) -> int:
    """The row count of local parquet ``files``, summed from their
    footers on the driver: no Spark job, no data page read."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def _swap_compacted(path: str, what: str, rewrite: Callable[[list[str], str], object]):
    """The local-path compaction swap behind :func:`compact_parquet` and
    ``BandStore.compact``: refuse ``://`` paths, list the table's parquet
    files (refusing none — also the state an interrupted swap leaves, so
    its ``._compact_old`` copy survives), clear the leftovers of an
    interrupted run, let ``rewrite(files, tmp)`` write the compacted
    table into ``<path>._compact_tmp``, then swap it in by two directory
    renames. Returns ``(files_before, files_after, rewrite's result)``."""
    if "://" in path:
        raise ValueError(
            f"{what} handles local paths only, got {path!r}; use the table "
            "format's compaction (e.g. Delta OPTIMIZE) on remote filesystems"
        )
    path = path.rstrip("/")
    before = _parquet_files(path)
    if not before:
        raise ValueError(f"{what}: no parquet files under {path!r}")
    tmp, old = path + "._compact_tmp", path + "._compact_old"
    for stale in (tmp, old):
        shutil.rmtree(stale, ignore_errors=True)
    result = rewrite(before, tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return len(before), len(_parquet_files(path)), result


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    partition_by: list[str] | None = None,
) -> dict[str, int]:
    """Compact a small-files parquet table in place: rewrite with file
    counts sized from the table's actual bytes (``target_file_mb`` per
    output file, the usual 128 MB HDFS/S3 sweet spot).

    Incremental micro-batch appends (the reference's 10-minute cycles)
    produce one-file-per-cycle tables whose scan cost at 100 TB is
    dominated by file-open overhead and tiny row groups; periodic
    compaction is the standard fix (cf. Delta OPTIMIZE). The rewrite
    stages through a temp directory, then swaps via two directory
    renames. The swap window is NOT transactional (a crash between the
    renames leaves the data in ``<path>._compact_old``; no concurrent
    readers/writers during compaction) — the same single-writer
    contract as write_replace. LOCAL filesystem paths only, matching
    this engine's file-based staging; on an object store / HDFS use the
    table format's own compaction (Delta OPTIMIZE). Returns
    ``{"files_before": n, "files_after": m, "rows": r}``; the input is
    scanned exactly once (the row count is read from the compacted
    output's footers, not a pre-pass).
    """

    def rewrite(files: list[str], tmp: str) -> int:
        total_bytes = sum(os.path.getsize(f) for f in files)
        n_out = max(1, -(-total_bytes // (target_file_mb * 1024 * 1024)))  # ceil
        writer = spark.read.parquet(path).repartition(int(n_out)).write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        # count from the compacted output's metadata — a few large files,
        # no second scan of the fragmented input
        return spark.read.parquet(tmp).count()

    before, after, rows = _swap_compacted(path, "compact_parquet", rewrite)
    return {"files_before": before, "files_after": after, "rows": rows}

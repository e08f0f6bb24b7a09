"""Tests for the load layer (S8-S12): write modes, PK-rejected append,
MERGE upsert semantics, retention delete."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from facolos_data_pipelines_spark.operators.incremental import retention_filter
from facolos_data_pipelines_spark.operators.merge import (
    append_dedup,
    latest_by_key,
    merge_stats,
    merge_upsert,
)
from facolos_data_pipelines_spark.sources import io as sio

SCHEMA = "pk long, val string, etl_updated_at timestamp, etl_batch_id string"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_merge_upsert_updates_and_inserts(spark):
    existing = _df(
        spark,
        [(1, "old", _ts("2024-01-01T00:00:00"), "b0"), (2, "keep", _ts("2024-01-01T00:00:00"), "b0")],
    )
    incoming = _df(
        spark,
        [(1, "new", _ts("2024-01-02T00:00:00"), "b1"), (3, "ins", _ts("2024-01-02T00:00:00"), "b1")],
    )
    out = {r["pk"]: r["val"] for r in merge_upsert(existing, incoming, ["pk"]).collect()}
    assert out == {1: "new", 2: "keep", 3: "ins"}


def test_merge_upsert_incoming_wins_on_tie(spark):
    ts = _ts("2024-01-01T00:00:00")
    existing = _df(spark, [(1, "old", ts, "b0")])
    incoming = _df(spark, [(1, "new", ts, "b1")])  # same timestamp
    assert merge_upsert(existing, incoming, ["pk"]).first()["val"] == "new"


def test_merge_stats(spark):
    existing = _df(spark, [(1, "a", _ts("2024-01-01T00:00:00"), "b0")])
    incoming = _df(
        spark,
        [(1, "a2", _ts("2024-01-02T00:00:00"), "b1"), (2, "b", _ts("2024-01-02T00:00:00"), "b1")],
    )
    row = merge_stats(existing, incoming, ["pk"]).first()
    assert row["updated"] == 1 and row["inserted"] == 1


def test_append_dedup_rejects_existing_keys(spark):
    existing = _df(spark, [(1, "a", _ts("2024-01-01T00:00:00"), "b0")])
    incoming = _df(
        spark,
        [(1, "dup", _ts("2024-01-02T00:00:00"), "b1"), (2, "new", _ts("2024-01-02T00:00:00"), "b1")],
    )
    out = append_dedup(existing, incoming, ["pk"]).collect()
    assert [r["pk"] for r in out] == [2]


def test_append_dedup_null_safe_keys(spark):
    # composite PKs carry NULL components (itemless orders) — replaying
    # the same batch must still be rejected (null-safe key equality)
    schema = "a string, b string, val string"
    existing = spark.createDataFrame([("x", None, "v1"), (None, None, "v2")], schema)
    incoming = spark.createDataFrame(
        [("x", None, "dup"), (None, None, "dup"), ("y", None, "new")], schema
    )
    out = append_dedup(existing, incoming, ["a", "b"]).collect()
    assert [r["val"] for r in out] == ["new"]


def test_latest_by_key_deterministic(spark):
    ts = _ts("2024-01-01T00:00:00")
    df = _df(spark, [(1, "x", ts, "b1"), (1, "y", ts, "b2"), (1, "z", _ts("2023-01-01T00:00:00"), "b9")])
    assert latest_by_key(df, ["pk"]).first()["val"] == "y"  # ties -> max batch id


def test_write_modes_roundtrip(spark, tmp_path):
    p = str(tmp_path / "t")
    df = _df(spark, [(1, "a", _ts("2024-01-01T00:00:00"), "b0")])
    sio.write_append(df, p)
    sio.write_append(df, p)
    assert spark.read.parquet(p).count() == 2
    sio.write_truncate_insert(df, p)
    assert spark.read.parquet(p).count() == 1


def test_append_with_pk_rejection_file(spark, tmp_path):
    p = str(tmp_path / "t2")
    df1 = _df(spark, [(1, "a", _ts("2024-01-01T00:00:00"), "b0")])
    df2 = _df(
        spark,
        [(1, "dup", _ts("2024-01-02T00:00:00"), "b1"), (2, "b", _ts("2024-01-02T00:00:00"), "b1")],
    )
    assert sio.append_with_pk_rejection(spark, df1, p, ["pk"]) == 1
    assert sio.append_with_pk_rejection(spark, df2, p, ["pk"]) == 1  # pk=1 rejected
    assert sorted(r["pk"] for r in spark.read.parquet(p).collect()) == [1, 2]


def test_append_with_pk_rejection_executes_plan_once(spark, tmp_path):
    """The incoming plan must run exactly once per load, for the
    PK-rejecting append and for the upsert with and without
    partition_by: the row count rides the load's one checkpoint and
    every later read (touched partitions, merge, write) reads its
    blocks. A mapInPandas tap writes one char per row it actually
    processes; double execution would double the char count. Each
    target already holds an untapped row, so the merge paths run."""
    df = spark.createDataFrame(
        [(i, f"v{i}", _ts("2024-01-01T00:00:00"), "b0") for i in range(10)],
        ["pk", "val", "etl_updated_at", "batch"],
    )
    loads = {
        "append": lambda d, p: sio.append_with_pk_rejection(spark, d, p, ["pk"]),
        "upsert": lambda d, p: sio.upsert_parquet(spark, d, p, ["pk"]),
        "upsert_partitioned": lambda d, p: sio.upsert_parquet(
            spark, d, p, ["pk"], partition_by=["batch"]
        ),
    }
    for name, load in loads.items():
        marker = str(tmp_path / f"exec_tap_{name}.txt")

        def tap(batches, marker=marker):
            for pdf in batches:
                if len(pdf):
                    with open(marker, "a") as f:
                        f.write("x" * len(pdf))
                yield pdf

        path = str(tmp_path / f"t_once_{name}")
        load(df.filter(F.col("pk") == 0).withColumn("pk", F.lit(100).cast("long")), path)
        n = load(df.mapInPandas(tap, df.schema), path)
        assert n == 10, name
        with open(marker) as f:
            # each row flowed through the plan exactly once
            assert len(f.read()) == 10, name
        assert spark.read.parquet(path).count() == 11, name


def test_counted_loads_execute_under_plan_only_mode(spark, tmp_path):
    """plan_only_mode skips only the checkpoints a returned plan would
    reuse; a load's counted checkpoint guards an overwrite of the path
    it just read, so upsert_parquet and apply_retention still execute
    and land the same table contents inside it."""
    from facolos_data_pipelines_spark.eager import plan_only_mode

    p = str(tmp_path / "t_plan_only")
    old, new = _ts("2024-01-01T00:00:00"), _ts("2024-05-31T00:00:00")
    sio.upsert_parquet(spark, _df(spark, [(1, "a", old, "b0"), (2, "b", old, "b0")]), p, ["pk"])
    with plan_only_mode():
        n = sio.upsert_parquet(
            spark, _df(spark, [(2, "b2", new, "b1"), (3, "c", new, "b1")]), p, ["pk"]
        )
        assert n == 2
        rows = {r["pk"]: r["val"] for r in spark.read.parquet(p).collect()}
        assert rows == {1: "a", 2: "b2", 3: "c"}
        removed = sio.apply_retention(
            spark, p, "etl_updated_at", 30, now=dt.datetime(2024, 6, 1)
        )
        assert removed == 1
        rows = {r["pk"]: r["val"] for r in spark.read.parquet(p).collect()}
        assert rows == {2: "b2", 3: "c"}


def test_upsert_parquet_fallback(spark, tmp_path):
    p = str(tmp_path / "t3")
    df1 = _df(spark, [(1, "old", _ts("2024-01-01T00:00:00"), "b0")])
    df2 = _df(spark, [(1, "new", _ts("2024-01-02T00:00:00"), "b1")])
    sio.upsert_parquet(spark, df1, p, ["pk"])
    sio.upsert_parquet(spark, df2, p, ["pk"])
    out = spark.read.parquet(p).collect()
    assert len(out) == 1 and out[0]["val"] == "new"


def test_upsert_parquet_partition_scoped_rewrites_only_touched(spark, tmp_path):
    """With partition_by, a merge must leave untouched partitions' files
    byte-for-byte alone (same names, same mtimes) and only rewrite the
    partitions the incoming batch touches."""
    import os

    def _files(d):
        out = {}
        for root, _dirs, files in os.walk(d):
            for f in files:
                if f.endswith(".parquet"):
                    fp = os.path.join(root, f)
                    out[fp] = os.path.getmtime(fp)
        return out

    p = str(tmp_path / "pt")
    base = spark.createDataFrame(
        [(1, "a0", _ts("2024-01-01T00:00:00"), "2024-01-01"),
         (2, "b0", _ts("2024-01-01T00:00:00"), "2024-01-02")],
        ["pk", "val", "etl_updated_at", "d"],
    )
    sio.upsert_parquet(spark, base, p, ["pk"], partition_by=["d"])
    d1_before = _files(f"{p}/d=2024-01-01")

    # second batch touches only d=2024-01-02: update pk=2, insert pk=3
    batch = spark.createDataFrame(
        [(2, "b1", _ts("2024-01-02T00:00:00"), "2024-01-02"),
         (3, "c1", _ts("2024-01-02T00:00:00"), "2024-01-02")],
        ["pk", "val", "etl_updated_at", "d"],
    )
    sio.upsert_parquet(spark, batch, p, ["pk"], partition_by=["d"])

    assert _files(f"{p}/d=2024-01-01") == d1_before  # untouched partition intact
    # partition values are type-inferred back as dates
    rows = {r["pk"]: (r["val"], str(r["d"])) for r in spark.read.parquet(p).collect()}
    assert rows == {1: ("a0", "2024-01-01"), 2: ("b1", "2024-01-02"), 3: ("c1", "2024-01-02")}


def test_retention(spark, tmp_path):
    now = dt.datetime(2024, 6, 1)
    df = spark.createDataFrame(
        [(1, _ts("2024-05-31T00:00:00")), (2, _ts("2024-01-01T00:00:00"))],
        "pk long, etl_created_at timestamp",
    )
    kept = retention_filter(df, "etl_created_at", 30, now=now).collect()
    assert [r["pk"] for r in kept] == [1]
    p = str(tmp_path / "t4")
    df.write.parquet(p)
    assert sio.apply_retention(spark, p, "etl_created_at", 30, now=now) == 1
    assert spark.read.parquet(p).count() == 1


def test_csv_export_roundtrip(spark, tmp_path):
    """S14 — CSV export with header; readable back with same values."""
    from facolos_data_pipelines_spark.sources.io import write_csv

    df = spark.createDataFrame(
        [(1, "a,b", 1.5), (2, None, -0.25)], ["id", "txt", "val"]
    )
    path = str(tmp_path / "export_csv")
    write_csv(df, path)
    back = spark.read.option("header", "true").csv(path)
    rows = {r["id"]: (r["txt"], r["val"]) for r in back.collect()}
    assert rows == {"1": ("a,b", "1.5"), "2": (None, "-0.25")}


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    from facolos_data_pipelines_spark.sources.io import compact_parquet

    path = str(tmp_path / "frag")
    df = spark.range(0, 1000).withColumn("v", F.col("id") * 2)
    # simulate 10 micro-batch appends -> >= 10 files
    for i in range(10):
        df.filter((F.col("id") % 10) == i).coalesce(1).write.mode("append").parquet(path)
    import glob

    before = len(glob.glob(f"{path}/*.parquet"))
    assert before >= 10
    stats = compact_parquet(spark, path, target_file_mb=128)
    assert stats["files_before"] == before
    assert stats["files_after"] == 1  # tiny table -> single 128MB-target file
    assert stats["rows"] == 1000
    out = spark.read.parquet(path)
    assert out.count() == 1000
    assert out.agg(F.sum("v")).first()[0] == 2 * sum(range(1000))


def test_compact_parquet_refuses_after_interrupted_swap(spark, tmp_path):
    """A crash between the swap's two renames leaves the table only in
    ``<path>._compact_old``: the next compaction refuses (no parquet
    files at ``path``) before clearing leftovers, so that copy survives."""
    from facolos_data_pipelines_spark.sources.io import compact_parquet

    path = str(tmp_path / "t")
    spark.range(10).write.parquet(path + "._compact_old")
    with pytest.raises(ValueError, match="no parquet files"):
        compact_parquet(spark, path)
    assert spark.read.parquet(path + "._compact_old").count() == 10


def test_upsert_parquet_delta_merge_dispatch(spark, tmp_path):
    """S11's Delta MERGE INTO slot: when delta-spark is importable,
    upsert_parquet against a Delta table must dispatch to a real
    partition-prunable MERGE (update-in-place, no duplicate keys).
    Skipped — with the import-gate reason recorded — in environments
    without delta-spark (this sandbox ships no Delta jars and network
    installs are off); the parquet fallback paths are covered by the
    two tests above either way."""
    from facolos_data_pipelines_spark.sources.io import HAS_DELTA, upsert_parquet

    if not HAS_DELTA:
        pytest.skip(
            "delta-spark not importable (sources.io.HAS_DELTA=False): the "
            "Delta MERGE dispatch at io.upsert_parquet needs the delta "
            "package + jars; a fresh `pip install delta-spark` attempt in "
            "this round's environment (2026-08-15) failed with 'No matching "
            "distribution found' — no package index is reachable"
        )
    path = str(tmp_path / "delta_tbl")
    spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-01")],
        ["pk", "val", "etl_updated_at"],
    ).write.format("delta").save(path)
    upsert_parquet(
        spark,
        spark.createDataFrame(
            [(2, "b2", "2024-01-02"), (3, "c", "2024-01-02")],
            ["pk", "val", "etl_updated_at"],
        ),
        path,
        keys=["pk"],
    )
    out = {r["pk"]: r["val"] for r in spark.read.format("delta").load(path).collect()}
    assert out == {1: "a", 2: "b2", 3: "c"}


def test_write_xlsx_stdlib_roundtrip(spark, tmp_path):
    """S14 xlsx export: valid OOXML package readable with stdlib zip +
    ElementTree — header row, escaped values, NULL -> empty cell,
    max_rows cap raises instead of truncating."""
    import xml.etree.ElementTree as ET
    import zipfile

    from facolos_data_pipelines_spark.sources.io import write_xlsx

    df = spark.createDataFrame(
        [(1, "a<b&c", 2.5), (2, None, 3.0)], ["id", "name", "val"]
    )
    path = str(tmp_path / "export.xlsx")
    n = write_xlsx(df.orderBy("id"), path)
    assert n == 2
    with zipfile.ZipFile(path) as z:
        names = set(z.namelist())
        assert {"[Content_Types].xml", "xl/workbook.xml",
                "xl/worksheets/sheet1.xml"} <= names
        sheet = z.read("xl/worksheets/sheet1.xml").decode()
    ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
    root = ET.fromstring(sheet)
    rows = root.findall(".//m:row", ns)
    assert len(rows) == 3  # header + 2 data rows
    texts = [
        [(t.text or "") for t in row.findall(".//m:t", ns)] for row in rows
    ]
    assert texts[0] == ["id", "name", "val"]
    assert texts[1] == ["1", "a<b&c", "2.5"]
    assert texts[2] == ["2", "", "3.0"]  # NULL -> empty cell

    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_rows"):
        write_xlsx(df, str(tmp_path / "too_big.xlsx"), max_rows=1)


def test_write_xlsx_strips_control_chars_and_quotes_sheet(spark, tmp_path):
    """XML 1.0 forbids most control chars even escaped; a scraped field
    containing \\x03 or a quoted sheet name must not corrupt the file."""
    import xml.etree.ElementTree as ET
    import zipfile

    from facolos_data_pipelines_spark.sources.io import write_xlsx

    df = spark.createDataFrame([(1, "bad\x03ctrl\x1fchars")], ["id", "name"])
    path = str(tmp_path / "ctrl.xlsx")
    write_xlsx(df, path, sheet='Q1 "draft"')
    with zipfile.ZipFile(path) as z:
        sheet = z.read("xl/worksheets/sheet1.xml").decode()
        wb = z.read("xl/workbook.xml").decode()
    ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
    texts = [t.text for t in ET.fromstring(sheet).findall(".//m:t", ns)]
    assert "badctrlchars" in texts  # control chars stripped, XML valid
    wb_ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
    name = ET.fromstring(wb).find(".//m:sheet", wb_ns).get("name")
    assert name == 'Q1 "draft"'

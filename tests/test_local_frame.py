"""Driver-side rows enter Spark through ``session.local_frame``: one
Arrow batch, a JVM ``LocalRelation``, no Python worker."""

import ast
import datetime as dt
import pathlib

import pytest

import facolos_data_pipelines_spark
from facolos_data_pipelines_spark.session import local_frame

PACKAGE = pathlib.Path(facolos_data_pipelines_spark.__file__).parent

TS = dt.datetime(2024, 3, 1, 12, 30, 45, 123456)

# (schema, rows): every column type the package's call sites pass
CASES = {
    "scalars": (
        "s string, i int, l bigint, d double, b boolean, t timestamp",
        [
            ("a", 1, 2**40, 1.5, True, TS),
            ("b", -7, -3, -0.25, False, dt.datetime(1999, 12, 31, 23, 59, 59)),
        ],
    ),
    "arrays": (
        "k int, al array<bigint>, ad array<double>",
        [(0, [1, 2**40, -3], [0.5, -1.25]), (1, [], [])],
    ),
    "nulls": (
        "s string, l bigint, d double, b boolean, t timestamp, al array<bigint>",
        [(None, None, None, None, None, None), ("x", 1, None, True, TS, [None, 4])],
    ),
    "empty": ("s string, l bigint", []),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_list_path(spark, case):
    schema, rows = CASES[case]
    new = local_frame(spark, rows, schema)
    old = spark.createDataFrame(rows, schema)
    assert new.schema == old.schema
    assert new.collect() == old.collect()


def test_local_frame_dict_rows_with_missing_key(spark):
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("val", T.StringType())]
    )
    rows = [{"id": 1, "val": "a"}, {"id": 2}, {"val": "c"}]
    new = local_frame(spark, rows, schema)
    assert new.schema == schema
    assert new.collect() == spark.createDataFrame(rows, schema).collect()
    assert [tuple(r) for r in new.collect()] == [(1, "a"), (2, None), (None, "c")]


def test_local_frame_naive_timestamp_round_trips(spark):
    """A naive datetime is read as UTC (the session zone every caller
    uses) and collects back unchanged."""
    got = local_frame(spark, [(TS,)], "t timestamp").collect()[0]["t"]
    assert got == TS


def test_local_frame_is_a_local_relation(spark):
    df = local_frame(spark, [(1, "a")], "k int, v string")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan
    assert "LogicalRDD" not in plan


def test_create_data_frame_only_in_local_frame():
    """``createDataFrame(`` over Python rows lives in ``local_frame``
    alone; the one other caller hands Spark a pandas frame."""
    allowed = {
        ("session.py", "local_frame"),
        ("operators/dedup_components.py", "_components_driver"),
    }
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = str(path.relative_to(PACKAGE))
        tree = ast.parse(path.read_text(), str(path))
        owner = {}  # node -> innermost enclosing function (walk is breadth-first)
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                owner.update((node, fn.name) for node in ast.walk(fn))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and (rel, owner.get(node)) not in allowed
            ):
                offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, f"build driver-side rows with session.local_frame: {offenders}"

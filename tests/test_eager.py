"""The eager-materialisation choke point: every checkpoint in the
package goes through ``facolos_data_pipelines_spark.eager``."""

import ast
import pathlib

import pytest

import facolos_data_pipelines_spark

PACKAGE = pathlib.Path(facolos_data_pipelines_spark.__file__).parent


def test_local_checkpoint_only_in_eager_module():
    """Checkpoints go through ``eager``, and no module caches a frame:
    a ``persist``/``cache`` outlives the plan that needed it unless every
    path unpersists it, and a checkpoint cannot leak that way."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == PACKAGE / "eager.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr
                in {"localCheckpoint", "persist", "cache", "unpersist"}
            ):
                offenders.append(f"{path.relative_to(PACKAGE)}:{node.lineno}")
    assert not offenders, (
        "call eager.materialize / eager.materialize_counted instead of "
        f"localCheckpoint, persist, cache or unpersist: {offenders}"
    )



def test_no_module_uses_observation():
    """``pyspark.sql.Observation`` starts the session's unserializable
    ObservationManager, after which a ``pyspark.ml`` model's transform
    fails; observed metrics are read back through ``eager`` instead."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            named = (
                (isinstance(node, ast.Name) and node.id == "Observation")
                or (isinstance(node, ast.Attribute) and node.attr == "Observation")
                or (
                    isinstance(node, (ast.Import, ast.ImportFrom))
                    and any(
                        a.name.split(".")[-1] == "Observation" for a in node.names
                    )
                )
            )
            if named:
                offenders.append(f"{path.relative_to(PACKAGE)}:{node.lineno}")
    assert not offenders, (
        "use eager.materialize_observed with a named df.observe metric "
        f"instead of Observation: {offenders}"
    )

def test_materialize_counted_counts_and_keeps_session_serializable(spark):
    """The count rides the checkpoint, empty frames included, and a
    pyspark.ml model fitted afterwards still transforms: its training
    summary captures the session, which an ``Observation`` would have
    made unserializable."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler
    from pyspark.sql import functions as F

    from facolos_data_pipelines_spark.eager import materialize_counted

    df = spark.range(100).withColumn("k", F.col("id") % 7)
    out, n = materialize_counted(df.groupBy("k").count())
    assert n == 7 and out.count() == 7
    out, n = materialize_counted(df.join(df, "id", "left_anti"))
    assert n == 0 and out.count() == 0

    rows = spark.createDataFrame(
        [(float(i), i % 2) for i in range(20)], "x double, label int"
    )
    assembled = VectorAssembler(inputCols=["x"], outputCol="v").transform(rows)
    model = LogisticRegression(featuresCol="v", labelCol="label", maxIter=5).fit(
        assembled
    )
    assert len(model.transform(assembled).select("probability").collect()) == 20


@pytest.mark.parametrize(
    "name",
    ["hist_edges_drift", "hist_percentiles", "hist_rebin_stitch", "hist_percentiles_daily"],
)
def test_hist_builders_leave_no_cached_frame(spark, sf_dir, name):
    """The histogram-state queries materialize their state through the
    eager module instead of ``.persist()``, so nothing stays in the
    session's cache after the query has been built and collected."""
    from __spark_entry__ import queries

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert queries()[name](spark, sf_dir).collect()
    assert cache.isEmpty()

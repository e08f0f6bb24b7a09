"""SparkSession construction tuned for this engine.

Local testing runs on ``local[N]`` (single JVM); the same config block is
what we would ship to a 1000-executor cluster — AQE on, shuffle
partitions sized to the cluster, Arrow enabled for the few Pandas-UDF
operators, session timezone pinned to UTC so timestamp semantics are
identical everywhere (the reference mixed utcnow()/now(); we standardize
on UTC — see SURVEY.md §7.4).

Driver-side Python rows (control-table rows, small lookup frames) enter
Spark through :func:`local_frame`: one Arrow batch that becomes a JVM
``LocalRelation``, so no pickled Python RDD and no Python worker.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Synthetic-table columns physically stored as TIMESTAMP(NANOS) parquet —
# they read back as long under nanosAsLong and need ns->timestamp repair.
KNOWN_TIMESTAMP_COLUMNS: dict[str, dict[str, str]] = {
    "events": {"ts": "timestamp"},
}


def build_spark(
    app_name: str = "facolos_data_pipelines_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults.

    Defaults are correct for local[N]; on a real cluster pass
    ``master=None`` with spark-submit supplying master/memory and a
    larger ``shuffle_partitions`` (rule of thumb: 2-3x total cores,
    AQE coalesces the excess at runtime).

    ``local[N]`` takes N from ``SPARK_GRAFT_CPUS``, else the CPUs this
    process may run on (what ``nproc`` prints). Shuffle parallelism
    follows N by default; on a cluster (and in the sfN scale-curve
    protocol) partitions must scale with DATA so the per-partition
    working set stays constant — ``SPARK_GRAFT_SHUFFLE_PARTITIONS``
    overrides without changing the task slots.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(partitions))
        # AQE: runtime coalescing, skew-join splitting, join re-selection.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # UTC everywhere — required for oracle comparison and for parity
        # with the reference DDL's GETUTCDATE() defaults.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for the pandas-UDF operators (similarity / multimodal).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # pandas 'errors=coerce' cast parity needs ANSI off (cast
        # failure -> NULL, not error). Spark 4 defaults ANSI on.
        .config("spark.sql.ansi.enabled", "false")
        # The synthetic events table stores ts as INT64 TIMESTAMP(NANOS),
        # which Spark refuses by default; read as long and convert in
        # load_tables (integer ns->us division, no precision loss).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        # Long-lived-driver hygiene: the ContextCleaner reaps
        # unreferenced localCheckpoint/broadcast blocks only after a
        # driver GC, and its periodic-GC default is 30 MINUTES — a
        # driver looping over hundreds of actions (the bench, the
        # oracle sweep, the scale-loop harnesses, a monitoring cycle
        # in production) accumulates blocks until the memory store
        # evicts working data. Measured on the 178-query bench at
        # sf0.1: 326.7 s without this knob -> 247.7 s with it, same
        # tree, back-to-back solo runs (CLUSTER.md §0). Override via
        # extra_conf / SPARK_GRAFT_EXTRA_CONF if a run needs the
        # stock interval.
        .config("spark.cleaner.periodicGC.interval", "60s")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]").config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        )
    # Ops escape hatch: SPARK_GRAFT_EXTRA_CONF='{"spark.network.timeout":
    # "1200s", ...}' lets scale runs set GC-tolerance / memory confs
    # without code changes (the same knob spark-submit --conf provides on
    # a real cluster). Explicit extra_conf kwargs win over the env.
    env_extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    if env_extra:
        import json

        for k, v in json.loads(env_extra).items():
            builder = builder.config(k, str(v))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_engine_confs(spark: SparkSession) -> None:
    """Set the runtime-settable confs the engine's semantics depend on.

    Called defensively by load_tables so queries behave identically on a
    session the engine did NOT build (e.g. a test harness passing its
    own SparkSession, where Spark 4 defaults ANSI **on** — which would
    turn the coerce-to-NULL casts into exceptions — and the nanos
    parquet conf is absent, making events.parquet unreadable)."""
    for k, v in (
        ("spark.sql.ansi.enabled", "false"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ):
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:  # pragma: no cover — static-conf sessions
            pass


def local_frame(spark: SparkSession, rows, schema: T.StructType | str) -> DataFrame:
    """A DataFrame over driver-side rows (tuples in schema order, or
    dicts whose missing keys read as NULL), built as one Arrow batch.

    ``spark.createDataFrame(<list>)`` ships the rows as a pickled Python
    RDD, so every action over the frame starts Python-worker tasks;
    an Arrow table becomes a JVM ``LocalRelation`` (``LocalTableScan``)
    that Catalyst can size. ``schema`` is a ``StructType`` or a DDL
    string. A naive ``datetime`` is read as UTC, the session zone.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    names = schema.names
    table = pa.Table.from_pylist(
        [r if isinstance(r, dict) else dict(zip(names, r)) for r in rows],
        schema=to_arrow_schema(schema),
    )
    return spark.createDataFrame(table, schema)


# Logical-plan reuse across load_tables calls: ``spark.read.parquet``
# costs ~120 ms of driver time per call (file listing + footer schema
# inference) and view registration ~15 ms — a query surface whose
# entries each call ``_t`` 1-3 times pays that per QUERY per repeat
# (measured ~290 ms/call, the largest single fixed cost on the bench
# tail; plans/r12/OPTIMIZATION.md §6). The cache holds only the immutable
# DataFrame (a lazy plan — every execution still scans the parquet
# files; no rows are cached), keyed by (applicationId, sf_dir, file
# mtime, name) so a new session, a different scale factor, or a
# REWRITTEN table file (scale harnesses regenerate data in-session)
# all miss and re-read.
_TABLE_CACHE: dict[tuple, "DataFrame"] = {}
# Bound the cache in long-lived drivers that loop over many scale dirs
# or regenerate files (each rewrite mints a new mtime key): keep the
# newest entry per (app, sf_dir, name) and cap the dict overall.
# Lazy plans are small, but an unbounded dict across thousands of
# regenerated files is still a leak (VERDICT r12 item 5).
_TABLE_CACHE_MAX = 256
# (applicationId, view name) -> (sf_dir, mtime) the temp view currently
# points at — re-register only when it changes, so the spark.sql()-based
# queries always see the requested scale factor and fresh files.
# Naturally bounded: one entry per (app, view name).
_VIEW_STATE: dict[tuple, tuple] = {}


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Read the synthetic star-schema parquet tables and register temp views.

    Returns a dict name -> DataFrame. Scans stay lazy; Catalyst pushes
    filters/projections into the parquet reader. Repeated calls for the
    same (session, sf_dir, unchanged files) reuse the logical plan —
    see _TABLE_CACHE above; execution always recomputes from parquet.
    """
    ensure_engine_confs(spark)
    app = spark.sparkContext.applicationId
    all_names = [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    out = {}
    for name in names or all_names:
        path = f"{sf_dir}/{name}.parquet"
        try:
            mtime = os.path.getmtime(path)
        except OSError:
            mtime = None  # let spark.read raise its own error below
        key = (app, sf_dir, mtime, name)
        df = _TABLE_CACHE.get(key)
        if df is None:
            df = spark.read.parquet(path)
            # Columns stored as TIMESTAMP(NANOS) arrive as long (see
            # nanosAsLong conf); restore timestamp with integer
            # division so no precision is lost.
            for col, want in KNOWN_TIMESTAMP_COLUMNS.get(name, {}).items():
                if col in df.columns and dict(df.dtypes)[col] == "bigint":
                    df = df.withColumn(
                        col, F.expr(f"timestamp_micros({col} div 1000)")
                    )
            # a rewritten file superseded any older mtime entry for the
            # same (app, sf_dir, name) — drop them so regeneration loops
            # don't accumulate dead plans
            stale = [
                k for k in _TABLE_CACHE
                if k[0] == app and k[1] == sf_dir and k[3] == name and k != key
            ]
            for k in stale:
                del _TABLE_CACHE[k]
            if len(_TABLE_CACHE) >= _TABLE_CACHE_MAX:
                # dicts iterate in insertion order: evict the oldest
                for k in list(_TABLE_CACHE)[: len(_TABLE_CACHE) - _TABLE_CACHE_MAX + 1]:
                    del _TABLE_CACHE[k]
            _TABLE_CACHE[key] = df
        if _VIEW_STATE.get((app, name)) != (sf_dir, mtime):
            df.createOrReplaceTempView(name)
            _VIEW_STATE[(app, name)] = (sf_dir, mtime)
        out[name] = df
    return out

"""Structured Streaming surface (SURVEY §2.7): availableNow drain,
watermark dedup, tumbling windows, foreachBatch merge sink."""

import shutil
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from facolos_data_pipelines_spark.streaming import (
    dedup_stream,
    merge_upsert_sink,
    read_parquet_stream,
    run_available_now,
    windowed_event_counts,
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


@pytest.fixture()
def tmp_root(tmp_path):
    yield str(tmp_path)
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode("append").parquet(path)


def _rows(n0, day, n, event_type="click", dup_of=None):
    import datetime as dt

    out = []
    for i in range(n):
        eid = dup_of if dup_of is not None else n0 + i
        out.append(
            (eid, dt.datetime(2024, 1, day, i % 24, 0, 0), 1 + i % 3, event_type, 1.0 + i)
        )
    return out


def test_available_now_drains_and_appends(spark, tmp_root):
    src = f"{tmp_root}/src"
    sink = f"{tmp_root}/sink"
    ckpt = f"{tmp_root}/ckpt"
    _write_batch(spark, src, _rows(0, 1, 5))
    stream = read_parquet_stream(spark, src, EVENT_SCHEMA)
    run_available_now(stream, sink, ckpt)
    assert spark.read.parquet(sink).count() == 5
    # New files land; a second cycle picks up ONLY the new ones.
    _write_batch(spark, src, _rows(100, 2, 3))
    run_available_now(read_parquet_stream(spark, src, EVENT_SCHEMA), sink, ckpt)
    assert spark.read.parquet(sink).count() == 8


def test_dedup_stream_drops_replayed_keys(spark, tmp_root):
    src = f"{tmp_root}/src"
    sink = f"{tmp_root}/sink"
    ckpt = f"{tmp_root}/ckpt"
    _write_batch(spark, src, _rows(0, 1, 4))
    _write_batch(spark, src, _rows(0, 1, 4))  # exact replay (lookback re-read)
    stream = dedup_stream(
        read_parquet_stream(spark, src, EVENT_SCHEMA), ["event_id"], "ts"
    )
    run_available_now(stream, sink, ckpt)
    out = spark.read.parquet(sink)
    assert out.count() == 4
    assert out.select("event_id").distinct().count() == 4


def test_dedup_stream_collapses_restamped_dups(spark, tmp_root):
    """The same event_id replayed with a LATER timestamp (a re-extract
    stamping fresh times) still collapses under the within-watermark
    default. (State eviction is proven separately by
    test_dedup_stream_state_evicted_after_watermark.)"""
    import datetime as dt

    src = f"{tmp_root}/src"
    sink = f"{tmp_root}/sink"
    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0), 1, "click", 1.0),
        (1, dt.datetime(2024, 1, 1, 0, 30), 1, "click", 1.0),  # restamped dup
        (2, dt.datetime(2024, 1, 1, 1, 0), 1, "click", 2.0),
    ]
    _write_batch(spark, src, rows)
    stream = dedup_stream(
        read_parquet_stream(spark, src, EVENT_SCHEMA), ["event_id"], "ts"
    )
    run_available_now(stream, sink, f"{tmp_root}/ckpt")
    out = spark.read.parquet(sink)
    assert out.count() == 2
    assert {r["event_id"] for r in out.collect()} == {1, 2}


def test_dedup_stream_state_evicted_after_watermark(spark, tmp_root):
    """Bounded state, the property that motivated
    dropDuplicatesWithinWatermark: once the watermark passes a key, its
    dedup state is evicted and a later replay of the same key passes
    through as new. Three micro-batch runs share one checkpoint so the
    watermark actually advances between them."""
    import datetime as dt

    src = f"{tmp_root}/src"
    sink = f"{tmp_root}/sink"
    ckpt = f"{tmp_root}/ckpt"
    t0 = dt.datetime(2024, 1, 1, 0, 0)

    def run(rows):
        _write_batch(spark, src, rows)
        stream = dedup_stream(
            read_parquet_stream(spark, src, EVENT_SCHEMA),
            ["event_id"], "ts", lookback="24 hours",
        )
        run_available_now(stream, sink, ckpt)

    run([(1, t0, 1, "click", 1.0)])                                   # key 1 seen
    run([(2, t0 + dt.timedelta(hours=48), 1, "click", 2.0)])          # wm -> t0+24h, evicts key 1
    run([(1, t0 + dt.timedelta(hours=49), 1, "click", 3.0)])          # replay AFTER eviction
    out = spark.read.parquet(sink)
    # key 1 appears twice: its first state was evicted at the watermark
    assert out.filter("event_id = 1").count() == 2
    assert out.count() == 3


def test_windowed_counts_match_batch_twin(spark, tmp_root):
    """Streaming tumbling-window agg equals its batch twin. Complete-mode
    memory sink: append-mode file sinks only flush windows the watermark
    has closed, which an availableNow drain of a single batch never does
    — that behavior is exercised implicitly; here we check the math."""
    src = f"{tmp_root}/src"
    _write_batch(spark, src, _rows(0, 1, 10) + _rows(50, 1, 6, event_type="view"))
    stream = windowed_event_counts(read_parquet_stream(spark, src, EVENT_SCHEMA))
    name = f"win_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.table(name).collect()
    }
    batch = (
        spark.read.parquet(src)
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in batch.collect()
    }
    assert got == want


def test_merge_upsert_sink_idempotent(spark, tmp_root):
    src = f"{tmp_root}/src"
    sink = f"{tmp_root}/table"
    ckpt = f"{tmp_root}/ckpt"
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("val", T.StringType()),
            T.StructField("etl_updated_at", T.TimestampType()),
        ]
    )
    import datetime as dt

    spark.createDataFrame(
        [(1, "a", dt.datetime(2024, 1, 1)), (2, "b", dt.datetime(2024, 1, 1))], schema
    ).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    merge_upsert_sink(stream, sink, ckpt, ["id"])
    assert spark.read.parquet(sink).count() == 2
    # updated value for id=2 + new id=3 arrive
    spark.createDataFrame(
        [(2, "b2", dt.datetime(2024, 1, 2)), (3, "c", dt.datetime(2024, 1, 2))], schema
    ).coalesce(1).write.mode("append").parquet(src)
    merge_upsert_sink(
        spark.readStream.schema(schema).parquet(src), sink, ckpt, ["id"]
    )
    out = {r["id"]: r["val"] for r in spark.read.parquet(sink).collect()}
    assert out == {1: "a", 2: "b2", 3: "c"}


def test_stateful_running_totals_across_cycles(spark, tmp_root):
    """applyInPandasWithState keeps per-key state across availableNow
    cycles via the checkpointed state store."""
    from facolos_data_pipelines_spark.streaming import running_totals_stateful

    src = f"{tmp_root}/src"
    ckpt = f"{tmp_root}/ckpt"
    _write_batch(spark, src, _rows(0, 1, 6))  # users 1,2,3 get 2 events each

    def run_cycle(out_dir):
        stream = running_totals_stateful(
            read_parquet_stream(spark, src, EVENT_SCHEMA)
        )
        q = (
            stream.writeStream.outputMode("update")
            .foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(out_dir)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {r["user_id"]: r["n_events"] for r in spark.read.parquet(out_dir).collect()}

    first = run_cycle(f"{tmp_root}/out1")
    assert first == {1: 2, 2: 2, 3: 2}
    # second cycle adds 3 more events for users 1,2,3 -> totals accumulate
    # in the checkpointed state store
    _write_batch(spark, src, _rows(200, 2, 3))
    second = run_cycle(f"{tmp_root}/out2")
    assert second == {1: 3, 2: 3, 3: 3}


def test_session_window_counts_match_batch_twin(spark, tmp_root):
    """Streaming session_window agg produces the same session membership
    as the batch operators.events.session_stats twin: same number of
    sessions per user, same per-session event counts, and each streaming
    session's start equals the batch session_start. (Streaming session
    *end* is last-event + gap by definition of F.session_window, so only
    starts are compared.)"""
    import uuid as _uuid

    import datetime as dt

    from facolos_data_pipelines_spark.operators.events import session_stats
    from facolos_data_pipelines_spark.streaming import session_event_counts

    src = f"{tmp_root}/sess_src"
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: (0, 10min) in one session; 55min starts a new one
        (1, base, 1, "click", 1.0),
        (2, base + dt.timedelta(minutes=10), 1, "click", 2.0),
        (3, base + dt.timedelta(minutes=55), 1, "click", 4.0),
        # user 2: one event
        (4, base + dt.timedelta(minutes=5), 2, "click", 8.0),
    ]
    _write_batch(spark, src, rows)
    stream = session_event_counts(
        read_parquet_stream(spark, src, EVENT_SCHEMA), gap="30 minutes"
    )
    name = f"sess_{_uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in spark.table(name).collect()
    }
    batch = session_stats(
        spark.read.parquet(src), "user_id", "ts", 30, tiebreak_cols=["event_id"]
    )
    want = {
        (r["user_id"], r["session_start"]): r["n_events"] for r in batch.collect()
    }
    assert got == want


def test_session_window_merges_across_micro_batches(spark, tmp_root):
    """A session's state survives the end of one availableNow drain and
    absorbs events from the next drain (same checkpoint): two events 10
    minutes apart, arriving in separate cycles, land in ONE session —
    the cross-cycle continuity the reference's lookback window
    approximates and session_window state makes exact."""
    import datetime as dt
    import uuid as _uuid

    from facolos_data_pipelines_spark.streaming import session_event_counts

    src = f"{tmp_root}/sess2_src"
    ckpt = f"{tmp_root}/sess2_ckpt"
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    name = f"sess2_{_uuid.uuid4().hex[:8]}"

    def drain():
        stream = session_event_counts(
            read_parquet_stream(spark, src, EVENT_SCHEMA), gap="30 minutes"
        )
        q = (
            stream.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _write_batch(spark, src, [(1, base, 1, "click", 1.0)])
    drain()
    _write_batch(
        spark, src, [(2, base + dt.timedelta(minutes=10), 1, "click", 2.0)]
    )
    drain()
    rows = spark.table(name).filter(F.col("user_id") == 1).collect()
    assert len(rows) == 1  # one merged session, not two
    assert rows[0]["n_events"] == 2
    assert rows[0]["session_start"] == base


def test_stream_stream_interval_join_matches_batch(spark, tmp_root):
    """Streaming click->purchase interval join (purchase within 1 h of
    the click, same user) produces exactly the batch join's pairs."""
    import datetime as dt
    import uuid as _uuid

    from facolos_data_pipelines_spark.streaming import (
        stream_stream_interval_join,
    )

    src = f"{tmp_root}/ssj_src"
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, base, 1, "click", 1.0),
        (2, base + dt.timedelta(minutes=30), 1, "purchase", 5.0),  # within 1h
        (3, base + dt.timedelta(minutes=90), 1, "purchase", 7.0),  # outside
        (4, base, 2, "click", 1.0),  # user 2: no purchase
        (5, base + dt.timedelta(minutes=10), 3, "purchase", 9.0),  # no click
    ]
    _write_batch(spark, src, rows)
    stream = read_parquet_stream(spark, src, EVENT_SCHEMA)
    clicks = stream.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    purchases = stream.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    joined = stream_stream_interval_join(clicks, purchases).select(
        "click_id", "purchase_id"
    )
    name = f"ssj_{_uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r["click_id"], r["purchase_id"]) for r in spark.table(name).collect()}
    assert got == {(1, 2)}  # only the within-window same-user pair


def test_streaming_line_frequency_state_matches_batch(spark, tmp_root):
    """Incremental corpus line-statistics over streaming micro-batches:
    each cycle folds its documents' distinct (line, doc) pairs into a
    parquet state table (foreachBatch append; replays collapse via
    dropDuplicates on read), and line_dedup fed from the folded state
    equals the direct batch run over the full corpus — the streaming
    realization of dedup.line_doc_pairs/pairs_to_frequencies."""
    from pyspark.sql import types as T

    from facolos_data_pipelines_spark.operators.dedup import (
        line_dedup,
        line_doc_pairs,
        pairs_to_frequencies,
    )

    doc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    src = f"{tmp_root}/docs_src"
    state = f"{tmp_root}/pair_state"
    ckpt = f"{tmp_root}/docs_ckpt"
    batch1 = [(0, "shared banner\nalpha"), (1, "shared banner\nbeta")]
    batch2 = [(2, "shared banner\ngamma"), (3, "delta only")]
    spark.createDataFrame(batch1, doc_schema).coalesce(1).write.mode("append").parquet(src)

    def fold_pairs(batch_df, batch_id):
        line_doc_pairs(batch_df).write.mode("append").parquet(state)

    def run_cycle():
        q = (
            spark.readStream.schema(doc_schema)
            .parquet(src)
            .writeStream.foreachBatch(fold_pairs)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()

    run_cycle()
    spark.createDataFrame(batch2, doc_schema).coalesce(1).write.mode("append").parquet(src)
    run_cycle()

    folded = spark.read.parquet(state).dropDuplicates(["line", "doc"])
    docs = spark.createDataFrame(batch1 + batch2, doc_schema)
    via_stream = sorted(
        map(
            tuple,
            line_dedup(
                docs, min_docs=3, frequencies=pairs_to_frequencies(folded)
            ).collect(),
        )
    )
    direct = sorted(map(tuple, line_dedup(docs, min_docs=3).collect()))
    assert via_stream == direct
    # the shared banner (3 of 4 docs) is gone, uniques survive
    cleaned = {r[0]: r[1] for r in direct}
    assert cleaned[0] == "alpha" and cleaned[3] == "delta only"


def test_streaming_near_dup_filter_across_batches(spark, tmp_root):
    """Cross-batch streaming near-dedup: batch 2's near-duplicate of a
    batch-1 doc is dropped via the persisted bucket store, novel docs
    land, and replaying the WHOLE source adds nothing (foreachBatch
    replay idempotence under at-least-once delivery)."""
    from pyspark.sql import types as T

    from facolos_data_pipelines_spark.streaming import near_dup_filter_sink

    doc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    src = f"{tmp_root}/nd_src"
    sink = f"{tmp_root}/nd_sink"
    store = f"{tmp_root}/nd_buckets"
    ckpt = f"{tmp_root}/nd_ckpt"
    fold = near_dup_filter_sink(sink, store)

    def run_cycle():
        q = (
            spark.readStream.schema(doc_schema)
            .parquet(src)
            .writeStream.foreachBatch(fold)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame([(1, base)], doc_schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_cycle()
    assert {r["doc_id"] for r in spark.read.parquet(sink).collect()} == {1}

    # batch 2: a near-dup (one word appended) + a genuinely novel doc
    spark.createDataFrame(
        [(2, base + " nu"), (3, "totally different words about spark engines here")],
        doc_schema,
    ).coalesce(1).write.mode("append").parquet(src)
    run_cycle()
    landed = {r["doc_id"] for r in spark.read.parquet(sink).collect()}
    assert landed == {1, 3}, f"near-dup must be dropped, novel kept: {landed}"

    # replay everything from a fresh checkpoint: nothing new lands
    import shutil

    shutil.rmtree(ckpt)
    run_cycle()
    assert {r["doc_id"] for r in spark.read.parquet(sink).collect()} == {1, 3}


def test_sink_in_batch_sweep_equals_batch_operator(spark, tmp_root):
    """Into an empty store a sink lands exactly its batch operator's
    survivors: the in-batch sweep is the same one-sweep rule over the
    same family. The batch holds a chain (doc 3 bridges docs 1 and 2,
    which do not match each other) and a separate near-dup pair."""
    import math

    from facolos_data_pipelines_spark.operators.dedup import (
        embedding_dedup,
        embedding_near_dup_pairs,
        minhash_dedup,
    )
    from facolos_data_pipelines_spark.streaming import (
        embedding_near_dup_sink,
        near_dup_filter_sink,
    )

    def landed(path, id_col):
        return {r[id_col] for r in spark.read.parquet(path).collect()}

    a = " ".join(f"w{i}" for i in range(12))
    b = [f"b{i}" for i in range(12)]
    c = [f"c{i}" for i in range(12)]
    solo = "totally different words about spark engines and their planners"
    docs = spark.createDataFrame(
        [
            (1, a + " " + " ".join(b)),
            (2, a + " " + " ".join(c)),
            (3, a + " " + " ".join(b[:6] + c[:6])),
            (10, solo),
            (11, solo + " today"),
            (20, "nothing here resembles any other document in the batch"),
        ],
        "doc_id long, text string",
    )
    family = dict(num_hashes=32, bands=16, threshold=0.4)
    want = {r["doc_id"] for r in minhash_dedup(docs, **family).collect()}
    assert want == {1, 2, 10, 20}
    near_dup_filter_sink(
        f"{tmp_root}/nd_sink", f"{tmp_root}/nd_store", store_partitions=4, **family
    )(docs, 0)
    assert landed(f"{tmp_root}/nd_sink", "doc_id") == want

    def unit(deg):
        return [math.cos(math.radians(deg)), math.sin(math.radians(deg))] + [0.0] * 6

    vecs = spark.createDataFrame(
        [
            (1, unit(0)),
            (2, unit(40)),
            (3, unit(20)),  # chain: 1~3 and 3~2, but 1 !~ 2
            (10, [0.0, 0.0, 1.0] + [0.0] * 5),
            (11, [0.0, 0.0, 1.0, 0.05] + [0.0] * 4),
            (20, [0.0] * 7 + [1.0]),
            (30, [0.0] * 8),  # degenerate: the sink's admit drops it
        ],
        "vec_id long, embedding array<double>",
    )
    family = dict(threshold=0.9, num_planes=2, num_bands=8, dim=8)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(vecs, **family).collect()
    }
    assert pairs == {(1, 3), (2, 3), (10, 11)}
    want = {r["vec_id"] for r in embedding_dedup(vecs, **family).collect()} - {30}
    assert want == {1, 2, 10, 20}
    embedding_near_dup_sink(
        f"{tmp_root}/emb_sink", f"{tmp_root}/emb_store", store_partitions=4, **family
    )(vecs, 0)
    assert landed(f"{tmp_root}/emb_sink", "vec_id") == want


def test_near_dup_sink_partitioned_store_many_batches(spark, tmp_root):
    """Long-running-stream shape of the bucket store: 20 micro-batches
    against a bucket_pmod-partitioned store, then compaction. Checks:
    (a) the cross-batch near-dups are dropped, (b) the store lands
    partitioned by pmod(band_hash, N) (then by _batch_id) so per-batch
    probes scan bounded per-partition inputs, and (c)
    compact_bucket_store collapses the one-file-per-batch accumulation
    to one file per pmod partition with bucket rows deduped — the
    growth-control the sink needs under continuous ingestion."""
    import glob
    import os

    from pyspark.sql import types as T

    from facolos_data_pipelines_spark.streaming import (
        compact_bucket_store,
        near_dup_filter_sink,
    )

    doc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    words = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    ).split()

    def doc_text(i: int) -> str:
        # 12-word docs; every 4th batch replays batch i-1's doc with one
        # appended word (a near-dup the store must catch cross-batch)
        base = " ".join(words[(i + j) % len(words)] for j in range(12))
        return base

    n_parts = 4
    batches = []
    for b in range(20):
        if b % 4 == 3:
            batches.append([(100 + b, doc_text(b - 1) + " extraword")])
        else:
            batches.append([(100 + b, doc_text(b))])

    def run(sink, store, ckpt, store_partitions):
        fold = near_dup_filter_sink(
            sink, store, store_partitions=store_partitions
        )
        for i, rows in enumerate(batches):
            fold(spark.createDataFrame(rows, doc_schema), i)
        return {r["doc_id"] for r in spark.read.parquet(sink).collect()}

    part_ids = run(
        f"{tmp_root}/p_sink", f"{tmp_root}/p_store", f"{tmp_root}/p_ckpt", n_parts
    )
    # the every-4th-batch near-dups were dropped
    dropped = {100 + b for b in range(20) if b % 4 == 3}
    assert part_ids.isdisjoint(dropped)

    store_path = f"{tmp_root}/p_store"
    part_dirs = sorted(
        os.path.basename(d)
        for d in glob.glob(os.path.join(store_path, "bucket_pmod=*"))
    )
    assert part_dirs and all(d.startswith("bucket_pmod=") for d in part_dirs)
    files_per_part_before = {
        d: len(glob.glob(os.path.join(store_path, d, "**", "*.parquet"), recursive=True))
        for d in part_dirs
    }
    # 20 appends -> many files per partition; compaction must bound it
    assert max(files_per_part_before.values()) > 1
    before = spark.read.parquet(store_path)
    buckets_before = {
        tuple(r) for r in before.select("band_id", "band_hash").collect()
    }

    stats = compact_bucket_store(spark, store_path)
    assert stats["files_after"] < stats["files_before"]
    assert stats["rows_after"] <= stats["rows_before"]
    files_per_part_after = {
        d: len(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True))
        for d in glob.glob(os.path.join(store_path, "bucket_pmod=*"))
    }
    files_per_part_after = {
        os.path.basename(d): n for d, n in files_per_part_after.items()
    }
    assert max(files_per_part_after.values()) == 1
    after = spark.read.parquet(store_path)
    # bucket set unchanged, rows unique per (band_id, band_hash)
    assert {
        tuple(r) for r in after.select("band_id", "band_hash").collect()
    } == buckets_before
    assert (
        after.groupBy("band_id", "band_hash").count().filter("count > 1").count()
        == 0
    )

    # the compacted store still filters: replay every batch, nothing lands
    fold = near_dup_filter_sink(
        f"{tmp_root}/p_sink", store_path, store_partitions=n_parts
    )
    for i, rows in enumerate(batches):
        fold(spark.createDataFrame(rows, doc_schema), 100 + i)
    assert {
        r["doc_id"] for r in spark.read.parquet(f"{tmp_root}/p_sink").collect()
    } == part_ids


def test_near_dup_sink_store_layout_is_sticky_and_validated(spark, tmp_root):
    """Bucket-store layout safety: (a) a sink factory refuses a
    store_partitions that is not an int >= 1 — there is no unpartitioned
    layout; (b) the creation-time partition count is persisted and a
    mismatched store_partitions raises instead of probing the wrong pmod
    space; (c) a partitioned store whose meta file is missing raises
    with the repair instruction; (d) the meta survives compaction."""
    import glob
    import json
    import os

    import pytest
    from pyspark.sql import types as T

    from facolos_data_pipelines_spark.streaming import (
        compact_bucket_store,
        embedding_near_dup_sink,
        near_dup_filter_sink,
    )
    from facolos_data_pipelines_spark.operators.band_index import (
        _STORE_META_NAME,
        _read_manifest,
    )

    doc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"

    # (a) no legacy unpartitioned layout: 0, negatives and bools refuse
    # when the sink is built, for both families
    sink, store = f"{tmp_root}/leg_sink", f"{tmp_root}/leg_store"
    for bad in (0, -1, True, 2.0):
        with pytest.raises(ValueError, match="store_partitions must be an int"):
            near_dup_filter_sink(sink, store, store_partitions=bad)
        with pytest.raises(ValueError, match="store_partitions must be an int"):
            embedding_near_dup_sink(sink, store, store_partitions=bad)
    assert not os.path.exists(store)

    # (b) partitioned store: N persisted at creation, mismatch raises
    psink, pstore = f"{tmp_root}/par_sink", f"{tmp_root}/par_store"
    fold4 = near_dup_filter_sink(psink, pstore, store_partitions=4)
    fold4(spark.createDataFrame([(1, base)], doc_schema), 0)
    full_meta = {
        "store_partitions": 4, "num_hashes": 32, "bands": 8, "shingle_n": 3,
        "family": "multiply_add",
    }
    assert _read_manifest(spark, pstore) == full_meta
    assert glob.glob(os.path.join(pstore, "bucket_pmod=*"))
    fold8 = near_dup_filter_sink(psink, pstore, store_partitions=8)
    with pytest.raises(ValueError, match="sticky"):
        fold8(spark.createDataFrame([(9, "whatever text")], doc_schema), 1)

    # (c) partitioned store without meta: its N is unrecoverable, raise
    os.remove(os.path.join(pstore, _STORE_META_NAME))
    with pytest.raises(ValueError, match="no meta file"):
        fold4(spark.createDataFrame([(9, "whatever text")], doc_schema), 2)

    # (d) meta survives compaction (restore the full manifest first)
    with open(os.path.join(pstore, _STORE_META_NAME), "w") as fh:
        json.dump(full_meta, fh)
    compact_bucket_store(spark, pstore)
    assert _read_manifest(spark, pstore) == full_meta
    # and the compacted store still probes correctly at the recorded N
    fold4(spark.createDataFrame([(5, base + " xi")], doc_schema), 3)
    assert {r["doc_id"] for r in spark.read.parquet(psink).collect()} == {1}


def test_near_dup_sink_refuses_foreign_signing_family(spark, tmp_root):
    """The MinHash store meta pins the signing family (num_hashes,
    bands, shingle_n, family) next to the layout: a sink reopened with
    a different family or band count raises before any probe instead
    of silently missing every historical bucket. A layout-only meta
    refuses too: the family it would be probed under is unverifiable."""
    import json
    import os

    import pytest
    from pyspark.sql import types as T

    from facolos_data_pipelines_spark.streaming import near_dup_filter_sink
    from facolos_data_pipelines_spark.operators.band_index import (
        _STORE_META_NAME,
        _read_manifest,
    )

    doc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    sink, store = f"{tmp_root}/fam_sink", f"{tmp_root}/fam_store"
    fold = near_dup_filter_sink(sink, store, store_partitions=2)
    fold(spark.createDataFrame([(1, base)], doc_schema), 0)
    full_meta = {
        "store_partitions": 2, "num_hashes": 32, "bands": 8, "shingle_n": 3,
        "family": "multiply_add",
    }
    assert _read_manifest(spark, store) == full_meta

    for drift in ({"family": "xxhash"}, {"bands": 4}):
        other = near_dup_filter_sink(sink, store, store_partitions=2, **drift)
        with pytest.raises(ValueError, match="MinHash signing family"):
            other(spark.createDataFrame([(9, "whatever text here")], doc_schema), 1)
    assert {r["doc_id"] for r in spark.read.parquet(sink).collect()} == {1}

    rows_before = spark.read.parquet(store).count()
    with open(os.path.join(store, _STORE_META_NAME), "w") as fh:
        json.dump({"store_partitions": 2}, fh)
    batch = spark.createDataFrame(
        [(2, base + " nu"), (3, "totally different words about spark here")],
        doc_schema,
    )
    with pytest.raises(ValueError, match="without the pinned MinHash signing family"):
        fold(batch, 2)
    assert {r["doc_id"] for r in spark.read.parquet(sink).collect()} == {1}
    assert spark.read.parquet(store).count() == rows_before

    # the full manifest, written back by hand, reopens the store
    with open(os.path.join(store, _STORE_META_NAME), "w") as fh:
        json.dump(full_meta, fh)
    fold(batch, 2)
    assert {r["doc_id"] for r in spark.read.parquet(sink).collect()} == {1, 3}
    assert _read_manifest(spark, store) == full_meta


def test_near_dup_sink_store_meta_on_uri_paths(spark, tmp_root):
    """URI ('://') store paths — HDFS/object stores in production,
    file:// here — go through the Hadoop FileSystem API: the manifest
    is written and read back, the sticky-N mismatch still raises, and a
    partitioned URI store with no meta refuses like a local one."""
    import os

    import pytest
    from pyspark.sql import types as T

    from facolos_data_pipelines_spark.streaming import near_dup_filter_sink
    from facolos_data_pipelines_spark.operators.band_index import (
        _STORE_META_NAME,
        _read_manifest,
        _write_manifest,
    )

    doc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    sink = f"file://{tmp_root}/uri_sink"
    store = f"file://{tmp_root}/uri_store"
    local_meta = os.path.join(f"{tmp_root}/uri_store", _STORE_META_NAME)
    full_meta = {
        "store_partitions": 4, "num_hashes": 32, "bands": 8, "shingle_n": 3,
        "family": "multiply_add",
    }

    # round-trip through the Hadoop FS branch
    fold4 = near_dup_filter_sink(sink, store, store_partitions=4)
    fold4(spark.createDataFrame([(1, base)], doc_schema), 0)
    assert os.path.isfile(local_meta)
    assert _read_manifest(spark, store) == full_meta

    # sticky mismatch raises on URI stores too
    fold8 = near_dup_filter_sink(sink, store, store_partitions=8)
    with pytest.raises(ValueError, match="sticky"):
        fold8(spark.createDataFrame([(9, "whatever text")], doc_schema), 1)

    # meta-less partitioned URI store: refuse, nothing lands
    os.remove(local_meta)
    with pytest.raises(ValueError, match="no meta file"):
        fold4(
            spark.createDataFrame(
                [(2, base + " nu"), (3, "totally different words about spark here")],
                doc_schema,
            ),
            2,
        )
    assert {r["doc_id"] for r in spark.read.parquet(sink).collect()} == {1}

    # direct writer round-trip (covers overwrite of the stale .crc)
    _write_manifest(spark, store, full_meta)
    assert _read_manifest(spark, store) == full_meta


def test_store_meta_unreadable_is_not_absent(spark, tmp_root):
    """A meta file that EXISTS but cannot be parsed refuses with the
    repair text and is never overwritten: rewriting it with the
    configured values could pin a layout the store was not written
    with."""
    import os

    import pytest
    from pyspark.sql import types as T

    from facolos_data_pipelines_spark.streaming import near_dup_filter_sink
    from facolos_data_pipelines_spark.operators.band_index import _STORE_META_NAME

    local = f"{tmp_root}/corrupt_meta_store"
    store = f"file://{local}"
    spark.createDataFrame(
        [(1, 0, 17, 1)], "bucket_pmod int, band_id int, band_hash long, doc_id long"
    ).write.partitionBy("bucket_pmod").parquet(store)
    meta = os.path.join(local, _STORE_META_NAME)
    with open(meta, "w") as fh:
        fh.write("{not json")
    doc_schema = "doc_id long, text string"
    fold = near_dup_filter_sink(f"{tmp_root}/corrupt_meta_sink", store)
    with pytest.raises(ValueError, match="could not be read"):
        fold(spark.createDataFrame([(2, "some words here")], doc_schema), 0)
    with open(meta) as fh:
        assert fh.read() == "{not json", "unreadable meta must not be overwritten"

    # an embedding band store: the repair text names the plane-family
    # keys a repaired meta must carry, not just the layout
    from facolos_data_pipelines_spark.streaming import embedding_near_dup_sink

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    estore = f"{tmp_root}/corrupt_meta_emb_store"
    fold = embedding_near_dup_sink(
        f"{tmp_root}/corrupt_meta_emb_sink", estore,
        num_planes=4, num_bands=2, dim=8, store_partitions=2,
    )
    fold(spark.createDataFrame([(1, _vec(0))], schema), 0)
    with open(os.path.join(estore, _STORE_META_NAME), "w") as fh:
        fh.write("{not json")
    with pytest.raises(ValueError, match="could not be read") as err:
        fold(spark.createDataFrame([(2, _vec(3))], schema), 1)
    assert '"num_planes": <num_planes>, "num_bands": <num_bands>' in str(err.value)


def test_compact_refuses_unreadable_meta(spark, tmp_root):
    """compact_bucket_store must refuse up front (clear ValueError) when the
    layout meta EXISTS but can't be parsed — not crash with a TypeError on
    meta["store_partitions"] mid-compaction, and not silently drop the meta
    from the compacted store."""
    import os

    import pytest

    from facolos_data_pipelines_spark.operators.band_index import _STORE_META_NAME
    from facolos_data_pipelines_spark.streaming.pipeline import compact_bucket_store

    local = f"{tmp_root}/corrupt_meta_compact"
    store = f"file://{local}"
    spark.createDataFrame(
        [(0, 0, 17, 1), (1, 1, 23, 2)],
        "bucket_pmod int, band_id int, band_hash long, doc_id long",
    ).write.partitionBy("bucket_pmod").parquet(store)
    meta = os.path.join(local, _STORE_META_NAME)
    with open(meta, "w") as fh:
        fh.write("{not json")
    with pytest.raises(ValueError, match="refusing to compact"):
        compact_bucket_store(spark, local)
    # the store itself is untouched (refusal happened before any rewrite)
    assert spark.read.parquet(store).count() == 2
    with open(meta) as fh:
        assert fh.read() == "{not json", "refusal must not rewrite the meta"


def test_minhash_state_loop_under_foreachbatch(spark, tmp_root):
    """The round-9 incremental dedup loop driven by Structured
    Streaming: a parquet document stream drained with availableNow,
    each micro-batch deduplicated against the persisted band state via
    minhash_dedup_delta inside foreachBatch, survivors appended to
    both the accepted-corpus table and the state table. After two
    drains the accepted corpus holds exactly the first-seen copy of
    every distinct text and the state stays bands x accepted rows —
    the batch operators ARE the streaming operators, no parallel
    implementation."""
    from facolos_data_pipelines_spark.operators.dedup import (
        minhash_band_state,
        minhash_dedup,
        minhash_dedup_delta,
    )

    DOC_SCHEMA = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    src = f"{tmp_root}/docs_src"
    state = f"{tmp_root}/mh_state"
    accepted = f"{tmp_root}/accepted"
    ckpt = f"{tmp_root}/ckpt"
    sents = {
        "a": "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "b": "one two three four five six seven eight nine ten",
        "c": "red orange yellow green blue indigo violet cyan magenta pink",
    }
    bands = 4
    kw = dict(num_hashes=16, bands=bands, family="xxhash", threshold=0.8)

    def cycle(batch_df, _epoch):
        import os

        if not os.path.exists(state):
            surv = minhash_dedup(batch_df, **kw)
            surv = surv.localCheckpoint()
            minhash_band_state(
                surv, num_hashes=16, bands=bands, family="xxhash"
            ).write.parquet(state)
            surv.write.mode("append").parquet(accepted)
            return
        st = batch_df.sparkSession.read.parquet(state)
        corpus = batch_df.sparkSession.read.parquet(accepted)
        surv = minhash_dedup_delta(batch_df, st, corpus, **kw).localCheckpoint()
        minhash_band_state(
            surv, num_hashes=16, bands=bands, family="xxhash"
        ).write.mode("append").parquet(state)
        surv.write.mode("append").parquet(accepted)

    def drain():
        q = (
            spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(cycle)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(120), "drain did not finish in 120s"
        finally:
            q.stop()

    spark.createDataFrame(
        [(1, sents["a"]), (2, sents["b"])], DOC_SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    drain()
    # second wave: 3 dups accepted 1; 4 is new; 5 dups 4 in-batch
    spark.createDataFrame(
        [(3, sents["a"] + " mu"), (4, sents["c"]), (5, sents["c"] + " gray")],
        DOC_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(src)
    drain()

    got = {r["doc_id"] for r in spark.read.parquet(accepted).collect()}
    assert got == {1, 2, 4}, got
    assert spark.read.parquet(state).count() == bands * len(got)


def test_hist_state_sink_streaming_and_replay_idempotent(spark, tmp_root):
    """The drift loop's streaming writer: micro-batches append their
    (day, bin, n) rows under pinned edges via foreachBatch, the scored
    series equals the batch operator over the full corpus, and a
    REPLAYED batch id overwrites its own partition instead of
    double-counting (dynamic partition overwrite — the counting sink's
    idempotence mechanism)."""
    from datetime import datetime

    from pyspark.sql import types as T

    from facolos_data_pipelines_spark.quality.checks import (
        hist_edges,
        hist_state,
        psi_from_hist_state,
    )
    from facolos_data_pipelines_spark.streaming import hist_state_sink

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    rows1 = [(datetime(2024, 3, 1, 12), float(i)) for i in range(100)]
    rows2 = [(datetime(2024, 3, 2, 12), float(i)) for i in range(100)]
    rows3 = [(datetime(2024, 3, 3, 12), 95.0 + (i % 5)) for i in range(100)]
    src = f"{tmp_root}/hs_src"
    store = f"{tmp_root}/hs_store"
    ckpt = f"{tmp_root}/hs_ckpt"
    edges_path = f"{tmp_root}/hs_edges"
    boot = spark.createDataFrame(rows1 + rows2, schema)
    hist_edges(boot, "value").write.parquet(edges_path)

    fold = hist_state_sink(store, edges_path, "ts", "value")

    def run_cycle():
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.foreachBatch(fold)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame(rows1 + rows2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_cycle()
    spark.createDataFrame(rows3, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_cycle()

    pinned = spark.read.parquet(edges_path)
    full = spark.createDataFrame(rows1 + rows2 + rows3, schema)
    want = sorted(
        tuple(r)
        for r in psi_from_hist_state(
            hist_state(full, "ts", "value", pinned)
        ).collect()
    )
    got = sorted(
        tuple(r)
        for r in psi_from_hist_state(spark.read.parquet(store)).collect()
    )
    assert got == want and want
    # day 3 shifted hard under the pinned edges
    by_day = {str(r[0]): r for r in got}
    assert by_day["2024-03-03"][4] is True  # shifted

    # replay: re-deliver an already-seen batch id with the same rows —
    # its partition is overwritten, nothing double-counts
    seen_ids = sorted(
        int(d.split("=")[1])
        for d in __import__("os").listdir(store)
        if d.startswith("_batch_id=")
    )
    fold(spark.createDataFrame(rows3, schema), seen_ids[-1])
    after = sorted(
        tuple(r)
        for r in psi_from_hist_state(spark.read.parquet(store)).collect()
    )
    assert after == want
    # an empty batch is a no-op: it writes nothing at all
    before = _tree_bytes(store)
    fold(spark.createDataFrame([], schema), 999)
    assert _tree_bytes(store) == before
    assert sorted(
        tuple(r)
        for r in psi_from_hist_state(spark.read.parquet(store)).collect()
    ) == want


def _vec(base, noise=0.0, dim=8):
    """A unit-ish test vector: one-hot at `base` with optional small
    perturbation on the next coordinate (cosine stays ~1)."""
    v = [0.0] * dim
    v[base % dim] = 1.0
    v[(base + 1) % dim] = noise
    return v


def test_streaming_embedding_near_dup_across_batches(spark, tmp_root):
    """Cross-batch streaming embedding dedup (the hyperplane-LSH twin
    of the minhash sink): batch 2's near-duplicate of a batch-1 vector
    is dropped via the persisted (band, sig) store, novel vectors
    land, zero-norm vectors are dropped (no bucket identity = no
    replay protection), and replaying the WHOLE source from a fresh
    checkpoint adds nothing."""
    from pyspark.sql import types as T

    from facolos_data_pipelines_spark.streaming import embedding_near_dup_sink

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    src = f"{tmp_root}/emb_src"
    sink = f"{tmp_root}/emb_sink"
    store = f"{tmp_root}/emb_store"
    ckpt = f"{tmp_root}/emb_ckpt"
    fold = embedding_near_dup_sink(
        sink, store, num_planes=4, num_bands=2, dim=8, store_partitions=4
    )

    def run_cycle():
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.foreachBatch(fold)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame(
        [(1, _vec(0)), (2, _vec(3))], schema
    ).coalesce(1).write.mode("append").parquet(src)
    run_cycle()
    assert {r["vec_id"] for r in spark.read.parquet(sink).collect()} == {1, 2}

    # batch 2: a near-dup of vec 1 (tiny perturbation — same buckets),
    # a genuinely novel direction, and three DEGENERATE vectors the
    # gate must drop as its exact complement: zero-norm, NaN element
    # (NaN > 0 is TRUE in Spark's ordering — an unguarded norm check
    # would keep it and give it an all-ones signature), NULL element
    # (nulls the norm fold)
    spark.createDataFrame(
        [
            (3, _vec(0, noise=0.01)),
            (4, _vec(6)),
            (5, [0.0] * 8),
            (6, [float("nan")] + [0.0] * 7),
            (7, [None] + [1.0] * 7),
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    run_cycle()
    landed = {r["vec_id"] for r in spark.read.parquet(sink).collect()}
    assert landed == {1, 2, 4}, (
        f"near-dup + degenerate dropped, novel kept: {landed}"
    )

    # the store is pmod-partitioned on sig and the meta pins the family
    import glob
    import json
    import os

    assert glob.glob(os.path.join(store, "bucket_pmod=*"))
    meta = json.load(open(os.path.join(store, "_NEAR_DUP_STORE_META.json")))
    assert meta == {"store_partitions": 4, "num_planes": 4, "num_bands": 2}

    # replay everything from a fresh checkpoint: nothing new lands
    import shutil

    shutil.rmtree(ckpt)
    run_cycle()
    assert {r["vec_id"] for r in spark.read.parquet(sink).collect()} == {1, 2, 4}


def test_embedding_sink_plane_family_sticky_and_compactable(spark, tmp_root):
    """The embedding band store's pinned-family contract: re-opening
    with a different plane family raises (signatures never match
    across families — a silent miss of every historical bucket),
    mismatched store_partitions raises via the shared layout meta,
    'auto'/bool num_planes is rejected up front, and
    compact_bucket_store with the embedding key columns dedups the
    store while the compacted store keeps filtering."""
    import pytest
    from pyspark.sql import types as T

    from facolos_data_pipelines_spark.streaming import (
        compact_bucket_store,
        embedding_near_dup_sink,
    )

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    sink = f"{tmp_root}/ps_sink"
    store = f"{tmp_root}/ps_store"

    with pytest.raises(ValueError, match="explicit int"):
        embedding_near_dup_sink(sink, store, num_planes=True)

    fold = embedding_near_dup_sink(
        sink, store, num_planes=4, num_bands=2, dim=8, store_partitions=2
    )
    # 12 micro-batches; every 4th replays the previous batch's vector
    # with a tiny perturbation (a near-dup the store must catch)
    batches = []
    for b in range(12):
        if b % 4 == 3:
            batches.append([(100 + b, _vec(b - 1, noise=0.01))])
        else:
            batches.append([(100 + b, _vec(b))])
    for i, rows in enumerate(batches):
        fold(spark.createDataFrame(rows, schema), i)
    landed = {r["vec_id"] for r in spark.read.parquet(sink).collect()}
    dropped = {100 + b for b in range(12) if b % 4 == 3}
    assert landed.isdisjoint(dropped)

    # family drift raises before any probe
    bad_family = embedding_near_dup_sink(
        sink, store, num_planes=6, num_bands=2, dim=8, store_partitions=2
    )
    with pytest.raises(ValueError, match="plane famil"):
        bad_family(spark.createDataFrame([(999, _vec(1))], schema), 99)
    # layout drift raises through the shared meta contract
    bad_layout = embedding_near_dup_sink(
        sink, store, num_planes=4, num_bands=2, dim=8, store_partitions=8
    )
    with pytest.raises(ValueError, match="sticky"):
        bad_layout(spark.createDataFrame([(999, _vec(1))], schema), 99)

    # a meta that lost its plane family must refuse, not silently skip
    # the family check (the true family is unrecoverable from data)
    import json as _json
    import os as _os

    meta_path = _os.path.join(store, "_NEAR_DUP_STORE_META.json")
    full_meta = _json.load(open(meta_path))
    with open(meta_path, "w") as fh:
        _json.dump({"store_partitions": full_meta["store_partitions"]}, fh)
    with pytest.raises(ValueError, match="without the pinned plane family"):
        fold(spark.createDataFrame([(998, _vec(2))], schema), 98)
    with open(meta_path, "w") as fh:
        _json.dump(full_meta, fh)

    before = spark.read.parquet(store)
    buckets_before = {tuple(r) for r in before.select("band", "sig").collect()}
    stats = compact_bucket_store(
        spark, store, id_col="vec_id", key_cols=("band", "sig")
    )
    assert stats["rows_after"] <= stats["rows_before"]
    # compaction must carry the WHOLE meta — losing the family keys
    # would disable the family check on the compacted store
    assert _json.load(open(meta_path)) == full_meta
    after = spark.read.parquet(store)
    assert {tuple(r) for r in after.select("band", "sig").collect()} == buckets_before
    assert (
        after.groupBy("band", "sig").count().filter("count > 1").count() == 0
    )
    # the compacted store still filters: replay every batch, nothing lands
    for i, rows in enumerate(batches):
        fold(spark.createDataFrame(rows, schema), 100 + i)
    assert {
        r["vec_id"] for r in spark.read.parquet(sink).collect()
    } == landed


def test_embedding_sink_meta_absent_refuses_unless_opted_in(spark, tmp_root):
    """A store whose meta is ABSENT (not just family-less) refuses to
    probe, whatever family the sink is configured with: the true plane
    family is unrecoverable from (band, sig) data, and adopting the
    configured one would miss every historical bucket if it differs.
    There is no opt-in: the only way back is the full manifest, written
    with the values the store was created with."""
    import json
    import os

    import pytest
    from pyspark.sql import types as T

    from facolos_data_pipelines_spark.streaming import embedding_near_dup_sink

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    sink = f"{tmp_root}/ma_sink"
    store = f"{tmp_root}/ma_store"
    fold = embedding_near_dup_sink(
        sink, store, num_planes=4, num_bands=2, dim=8, store_partitions=2
    )
    fold(spark.createDataFrame([(1, _vec(0)), (2, _vec(3))], schema), 0)
    meta_path = os.path.join(store, "_NEAR_DUP_STORE_META.json")
    full_meta = json.load(open(meta_path))
    assert full_meta == {"store_partitions": 2, "num_planes": 4, "num_bands": 2}
    os.remove(meta_path)
    rows_before = spark.read.parquet(store).count()

    # meta absent -> refuse, with the matching family and with another
    other = embedding_near_dup_sink(
        sink, store, num_planes=6, num_bands=3, dim=8, store_partitions=2
    )
    batch = spark.createDataFrame([(4, _vec(0, noise=0.01)), (5, _vec(6))], schema)
    for refused in (fold, other):
        with pytest.raises(ValueError, match="no meta file"):
            refused(batch, 1)
    assert {r["vec_id"] for r in spark.read.parquet(sink).collect()} == {1, 2}
    assert spark.read.parquet(store).count() == rows_before
    assert not os.path.exists(meta_path)

    # the full manifest written back by hand reopens the store, which
    # still drops a replayed batch-0 near-dup
    with open(meta_path, "w") as fh:
        json.dump(full_meta, fh)
    fold(batch, 1)
    assert {r["vec_id"] for r in spark.read.parquet(sink).collect()} == {1, 2, 5}
    assert json.load(open(meta_path)) == full_meta


_DOC_SCHEMA = "doc_id long, text string"
_VEC_SCHEMA = "vec_id long, embedding array<double>"
_BASE_TEXT = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"

#: family -> (sink factory kwargs, first batch, refused batch, family drift)
_SINK_FAMILIES = {
    "minhash": (
        {},
        ([(1, _BASE_TEXT)], _DOC_SCHEMA),
        ([(2, _BASE_TEXT + " nu"), (3, "other words about spark")], _DOC_SCHEMA),
        {"bands": 4},
    ),
    "embedding": (
        {"num_planes": 4, "num_bands": 2, "dim": 8},
        ([(1, _vec(0)), (2, _vec(3))], _VEC_SCHEMA),
        ([(4, _vec(0, noise=0.01)), (5, _vec(6))], _VEC_SCHEMA),
        {"num_planes": 6},
    ),
}

#: case -> (manifest edit, sink overrides, refusal text). The edit is
#: "drop" (delete the manifest), raw text, a function of the full
#: manifest, or None (leave the sink-written manifest alone).
_MANIFEST_CASES = {
    "absent": ("drop", {}, "no meta file"),
    "unreadable": ("{not json", {}, "could not be read"),
    "not_an_object": ("[2]", {}, "could not be read"),
    "layout_only": (
        lambda m: {"store_partitions": m["store_partitions"]}, {},
        "without the pinned",
    ),
    "no_store_partitions": (
        lambda m: {k: v for k, v in m.items() if k != "store_partitions"}, {},
        "valid store_partitions",
    ),
    "string_store_partitions": (
        lambda m: {**m, "store_partitions": "2"}, {}, "valid store_partitions"
    ),
    "bool_store_partitions": (
        lambda m: {**m, "store_partitions": True}, {}, "valid store_partitions"
    ),
    "zero_store_partitions": (
        lambda m: {**m, "store_partitions": 0}, {}, "valid store_partitions"
    ),
    "family_mismatch": (None, "drift", "never match"),
    "n_mismatch": (None, {"store_partitions": 4}, "sticky"),
}


def _sink_factory(family):
    from facolos_data_pipelines_spark.streaming import (
        embedding_near_dup_sink,
        near_dup_filter_sink,
    )

    return near_dup_filter_sink if family == "minhash" else embedding_near_dup_sink


def _tree_bytes(root):
    """relative path -> bytes for every file under ``root``."""
    import pathlib

    return {
        str(p.relative_to(root)): p.read_bytes()
        for p in sorted(pathlib.Path(root).rglob("*"))
        if p.is_file()
    }


@pytest.fixture(scope="module")
def band_stores(spark, tmp_path_factory):
    """(family, scheme) -> a directory holding ``sink`` and ``store``
    after one batch, written through ``scheme`` paths; built once."""
    built = {}

    def get(family, scheme):
        if (family, scheme) not in built:
            root = tmp_path_factory.mktemp(f"{family}_{bool(scheme)}")
            kwargs, (rows, schema), _, _ = _SINK_FAMILIES[family]
            fold = _sink_factory(family)(
                f"{scheme}{root}/sink", f"{scheme}{root}/store",
                store_partitions=2, **kwargs,
            )
            fold(spark.createDataFrame(rows, schema), 0)
            built[family, scheme] = root
        return built[family, scheme]

    return get


@pytest.mark.parametrize("scheme", ["", "file://"], ids=["plain", "uri"])
@pytest.mark.parametrize("family", sorted(_SINK_FAMILIES))
@pytest.mark.parametrize("case", sorted(_MANIFEST_CASES))
def test_band_store_refuses_without_matching_manifest(
    spark, band_stores, tmp_path, case, family, scheme
):
    """A reopened band store must carry a readable manifest whose
    store_partitions and signing family match the sink; otherwise the
    sink raises the repair ValueError before any probe or append, so
    the docs sink and the store are left byte-for-byte unchanged."""
    import json

    from facolos_data_pipelines_spark.operators.band_index import _STORE_META_NAME

    root = tmp_path / "copy"
    shutil.copytree(band_stores(family, scheme), root)
    meta = root / "store" / _STORE_META_NAME
    edit, overrides, refusal = _MANIFEST_CASES[case]
    kwargs, _, (rows, schema), drift = _SINK_FAMILIES[family]
    if edit is not None:
        # a hand edit leaves Hadoop's checksum stale; drop it with the file
        (root / "store" / f".{_STORE_META_NAME}.crc").unlink(missing_ok=True)
        if edit == "drop":
            meta.unlink()
        else:
            text = edit if isinstance(edit, str) else json.dumps(
                edit(json.loads(meta.read_text()))
            )
            meta.write_text(text)
    overrides = drift if overrides == "drift" else overrides
    before = _tree_bytes(root)
    fold = _sink_factory(family)(
        f"{scheme}{root}/sink", f"{scheme}{root}/store",
        **{"store_partitions": 2, **kwargs, **overrides},
    )
    with pytest.raises(ValueError, match=refusal) as err:
        fold(spark.createDataFrame(rows, schema), 1)
    assert "with the values the store was created with" in str(err.value)
    assert _tree_bytes(root) == before


def test_band_store_manifest_write_failure_then_redelivery(
    spark, tmp_root, monkeypatch
):
    """A new store's manifest is written before anything else: a write
    that fails — before any byte lands (after creating the store
    directory) or midway through the bytes, like a full disk — raises,
    lands nothing, leaves no torn manifest behind, and the redelivered
    batch then lands exactly once."""
    import builtins
    import errno
    import os

    from facolos_data_pipelines_spark.operators import band_index
    from facolos_data_pipelines_spark.streaming import near_dup_filter_sink

    _, _, (rows, schema), _ = _SINK_FAMILIES["minhash"]
    real_open = builtins.open

    def failing_write(spark, store_path, manifest):
        os.makedirs(store_path, exist_ok=True)
        raise OSError("injected manifest write failure")

    class Torn:
        """A file whose write lands half its bytes, then fails."""

        def __init__(self, fh):
            self.fh = fh

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self.fh.close()

        def write(self, data):
            self.fh.write(data[: len(data) // 2])
            raise OSError(errno.ENOSPC, "injected: no space left on device")

    for case in ("before_write", "mid_write"):
        sink, store = f"{tmp_root}/mf_{case}_sink", f"{tmp_root}/mf_{case}_store"
        fold = near_dup_filter_sink(sink, store, store_partitions=2)

        def torn_open(file, mode="r", *args, store=store, **kwargs):
            fh = real_open(file, mode, *args, **kwargs)
            return Torn(fh) if "w" in mode and str(file).startswith(store) else fh

        if case == "before_write":
            monkeypatch.setattr(band_index, "_write_manifest", failing_write)
        else:
            monkeypatch.setattr(builtins, "open", torn_open)
        with pytest.raises(OSError, match="injected"):
            fold(spark.createDataFrame(rows, schema), 0)
        monkeypatch.undo()
        assert not os.path.exists(sink)
        assert all(n.startswith((".", "_")) for n in os.listdir(store)), case
        assert band_index._STORE_META_NAME not in os.listdir(store), case

        fold(spark.createDataFrame(rows, schema), 0)
        ids = [r["doc_id"] for r in spark.read.parquet(sink).collect()]
        assert sorted(ids) == [2, 3], case
        assert band_index._read_manifest(spark, store) == {
            "store_partitions": 2, "num_hashes": 32, "bands": 8, "shingle_n": 3,
            "family": "multiply_add",
        }
        assert spark.read.parquet(store).select("doc_id").distinct().count() == 2


def _sorted_rows(spark, path):
    return sorted((tuple(r) for r in spark.read.parquet(path).collect()), key=repr)


def _two_batches(
    spark, root, family, monkeypatch=None, crash_after=None, compact=False,
    redeliver=False,
):
    """Feed a family's two batches to a fresh sink at ``root``. With
    ``crash_after`` ("sink" or "store"), batch 1's first delivery dies
    right after that write and batch 1 is delivered again. ``compact``
    then compacts the store; ``redeliver`` then delivers batch 1 once
    more. Returns (docs rows, store rows), each sorted."""
    from pyspark.sql.readwriter import DataFrameWriter

    from facolos_data_pipelines_spark.streaming import compact_bucket_store

    kwargs, (rows0, schema), (rows1, _), _ = _SINK_FAMILIES[family]
    paths = {"sink": f"{root}/sink", "store": f"{root}/store"}
    fold = _sink_factory(family)(
        paths["sink"], paths["store"], store_partitions=2, **kwargs
    )
    fold(spark.createDataFrame(rows0, schema), 0)
    if crash_after is not None:
        real = DataFrameWriter.parquet

        def crashing(self, path, *args, **kw):
            real(self, path, *args, **kw)
            if path == paths[crash_after]:
                raise RuntimeError("injected crash")

        monkeypatch.setattr(DataFrameWriter, "parquet", crashing)
        with pytest.raises(RuntimeError, match="injected crash"):
            fold(spark.createDataFrame(rows1, schema), 1)
        monkeypatch.undo()
    fold(spark.createDataFrame(rows1, schema), 1)
    if compact:
        id_col, key_cols = (
            ("doc_id", ("band_id", "band_hash")) if family == "minhash"
            else ("vec_id", ("band", "sig"))
        )
        compact_bucket_store(spark, paths["store"], id_col=id_col, key_cols=key_cols)
    if redeliver:
        fold(spark.createDataFrame(rows1, schema), 1)
    return _sorted_rows(spark, paths["sink"]), _sorted_rows(spark, paths["store"])


@pytest.mark.parametrize("family", sorted(_SINK_FAMILIES))
def test_band_store_redelivery_is_exactly_once(spark, tmp_path, monkeypatch, family):
    """A delivery that dies after the docs write, or after the band
    write, and is then redelivered under the same batch id leaves the
    docs sink and the store row-for-row equal to a clean run; so does
    redelivering a batch that compaction already folded."""
    clean = _two_batches(spark, tmp_path / "clean", family)
    docs, store = clean
    # batch 1's near-dup of batch 0 was dropped, its new row landed
    assert {r[-1] for r in docs} == {0, 1} and store
    for crash_after in ("sink", "store"):
        got = _two_batches(
            spark, tmp_path / crash_after, family, monkeypatch, crash_after
        )
        assert got == clean, crash_after
    compacted = _two_batches(spark, tmp_path / "compacted", family, compact=True)
    assert compacted[0] == docs
    assert {r[-1] for r in compacted[1]} == {-1}
    again = _two_batches(
        spark, tmp_path / "again", family, compact=True, redeliver=True
    )
    assert again == compacted


@pytest.mark.parametrize("family", sorted(_SINK_FAMILIES))
def test_band_store_state_refuses_foreign_manifest(spark, band_stores, family):
    """BandStore.state() checks the manifest before it reads: another
    signing family or another store_partitions raises the repair
    ValueError; the matching store reads its band rows."""
    from facolos_data_pipelines_spark.operators.band_index import BandStore
    from facolos_data_pipelines_spark.operators.dedup_embedding import _cosine_index
    from facolos_data_pipelines_spark.operators.dedup_minhash import _minhash_index

    kwargs, _, _, drift = _SINK_FAMILIES[family]

    def index(**over):
        if family == "minhash":
            kw = {"num_hashes": 32, "bands": 8, **over}
            return _minhash_index(
                "text", "doc_id", kw["num_hashes"], kw["bands"], 3, "multiply_add", 0.8
            )
        kw = {**kwargs, **over}
        return _cosine_index(
            "embedding", "vec_id", kw["num_planes"], kw["num_bands"], kw["dim"]
        )

    path = str(band_stores(family, "") / "store")
    with pytest.raises(ValueError, match="never match") as err:
        BandStore(path, index(**drift), 2).state(spark)
    assert "with the values the store was created with" in str(err.value)
    with pytest.raises(ValueError, match="sticky"):
        BandStore(path, index(), 4).state(spark)
    ix = index()
    rows = BandStore(path, ix, 2).state(spark)
    assert rows.columns == [ix.id_col, *ix.keys, "bucket_pmod"]
    assert rows.count() > 0


def test_band_store_refuses_pre_batch_id_layout(spark, band_stores, tmp_path):
    """A store partitioned only by bucket_pmod, or a docs sink of flat
    part files, predates the _batch_id layout. The sink refuses either
    before any write (one batch on top would leave a store Spark cannot
    read and hide the old docs); compact_bucket_store migrates the
    store, and the docs move to a new path."""
    from facolos_data_pipelines_spark.operators.band_index import _STORE_META_NAME
    from facolos_data_pipelines_spark.streaming import compact_bucket_store

    built, root = band_stores("minhash", ""), tmp_path / "old"
    for name, layout in (("sink", []), ("store", ["bucket_pmod"])):
        spark.read.parquet(str(built / name)).drop("_batch_id").write.partitionBy(
            *layout
        ).parquet(str(root / name))
    shutil.copy(built / "store" / _STORE_META_NAME, root / "store")
    kwargs, _, (rows, schema), _ = _SINK_FAMILIES["minhash"]

    def fold(sink):
        _sink_factory("minhash")(
            str(root / sink), str(root / "store"), store_partitions=2, **kwargs
        )(spark.createDataFrame(rows, schema), 1)

    before = _tree_bytes(root)
    with pytest.raises(ValueError, match="new docs path"):
        fold("sink")
    with pytest.raises(ValueError, match="compact_bucket_store"):
        fold("new_sink")
    assert _tree_bytes(root) == before
    compact_bucket_store(spark, str(root / "store"))
    fold("new_sink")
    assert spark.read.parquet(str(root / "new_sink")).count() > 0
    assert spark.read.parquet(str(root / "store")).count() > 0


def test_embedding_sink_leaves_session_usable_for_ml(spark, tmp_root, caplog):
    """The embedding sink's degenerate-vector count is a named observed
    metric read back from the signing checkpoint (and logged), not a
    ``pyspark.sql.Observation``: a ``pyspark.ml`` model fitted and
    applied afterwards in the same session still transforms."""
    import logging

    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    from facolos_data_pipelines_spark.streaming import embedding_near_dup_sink

    fold = embedding_near_dup_sink(
        f"{tmp_root}/ml_sink", f"{tmp_root}/ml_store",
        num_planes=4, num_bands=2, dim=8, store_partitions=2,
    )
    batch = [(1, _vec(0)), (2, [0.0] * 8), (3, [float("nan")] + [0.0] * 7)]
    with caplog.at_level(logging.INFO):
        fold(spark.createDataFrame(batch, _VEC_SCHEMA), 7)

    rows = spark.createDataFrame(
        [(float(i), i % 2) for i in range(20)], "x double, label int"
    )
    assembled = VectorAssembler(inputCols=["x"], outputCol="v").transform(rows)
    model = LogisticRegression(featuresCol="v", labelCol="label", maxIter=5).fit(
        assembled
    )
    assert len(model.transform(assembled).select("probability").collect()) == 20
    landed = spark.read.parquet(f"{tmp_root}/ml_sink").collect()
    assert [r["vec_id"] for r in landed] == [1]
    assert "batch 7: dropped 2 row(s)" in caplog.text


def test_hist_state_sink_edge_guard_alerts_on_outgrown_feed(spark, tmp_root, caplog):
    """The streamed re-bootstrap guard: with edge_guard_threshold set,
    a micro-batch whose mass has drifted past the pinned edges logs a
    WARNING naming the day and its terminal-bin share within that
    batch — while an in-family batch stays silent and both batches'
    rows land in the store regardless (alerting never drops data)."""
    import logging

    from datetime import datetime

    from facolos_data_pipelines_spark.quality.checks import hist_edges
    from facolos_data_pipelines_spark.streaming import hist_state_sink

    boot = spark.createDataFrame(
        [(datetime(2024, 3, 1, 12), float(i % 100)) for i in range(200)],
        "ts timestamp, value double",
    )
    edges_path = f"{tmp_root}/eg_edges"
    store = f"{tmp_root}/eg_store"
    hist_edges(boot, "value").write.parquet(edges_path)
    fold = hist_state_sink(store, edges_path, "ts", "value",
                           edge_guard_threshold=0.4)

    in_family = spark.createDataFrame(
        [(datetime(2024, 3, 2, 12), float(i % 100)) for i in range(100)],
        "ts timestamp, value double",
    )
    drifted = spark.createDataFrame(
        [(datetime(2024, 3, 3, 12), 900.0 + i) for i in range(100)],
        "ts timestamp, value double",
    )
    with caplog.at_level(logging.WARNING,
                         logger="facolos_data_pipelines_spark.streaming.pipeline"):
        fold(in_family, 0)
        quiet = [r for r in caplog.records if "edge_share" in r.getMessage()]
        fold(drifted, 1)
        loud = [r for r in caplog.records if "edge_share" in r.getMessage()]
    assert not quiet, "in-family batch must not alert"
    assert len(loud) == 1 and "2024-03-03" in loud[0].getMessage()
    assert "re-bootstrap" in loud[0].getMessage()
    # alerting never drops data: both batches' rows are in the store
    days = {str(r["day"]) for r in
            spark.read.parquet(store).select("day").distinct().collect()}
    assert days == {"2024-03-02", "2024-03-03"}


def test_streamed_guard_to_recovery_runbook_end_to_end(spark, tmp_root, caplog):
    """The full alert->recovery runbook as a stream: a guarded
    hist_state_sink WARNs on the drifted micro-batch; the operator
    freezes that store, re-bootstraps edges on the drifted reference,
    re-bins from the seam's baseline day into a NEW store (seeded with
    _batch_id=-1 so the sink's dynamic-partition-overwrite layout is
    preserved), points a NEW guarded sink at it — which stays SILENT
    because the drifted family is now in-family — and stitched_psi
    reads one unbroken day-over-day series across the seam."""
    import logging

    from datetime import datetime

    from facolos_data_pipelines_spark.quality.checks import (
        hist_edges,
        pinned_edges,
        psi_from_hist_state,
        rebin_hist_state,
        stitched_psi,
    )
    from facolos_data_pipelines_spark.streaming import hist_state_sink

    def day_batch(d, base):
        return spark.createDataFrame(
            [(datetime(2024, 3, d, 12), base + float(i % 100)) for i in range(200)],
            "ts timestamp, value double",
        )

    old_edges_path = f"{tmp_root}/rb_old_edges"
    old_store = f"{tmp_root}/rb_old_store"
    hist_edges(day_batch(1, 0.0), "value").write.parquet(old_edges_path)
    old_sink = hist_state_sink(
        old_store, old_edges_path, "ts", "value", edge_guard_threshold=0.4
    )
    logger = "facolos_data_pipelines_spark.streaming.pipeline"
    with caplog.at_level(logging.WARNING, logger=logger):
        old_sink(day_batch(1, 0.0), 0)     # in-family
        old_sink(day_batch(2, 0.0), 1)     # in-family
        old_sink(day_batch(3, 500.0), 2)   # drifted wholesale
    warns = [r for r in caplog.records if "edge_share" in r.getMessage()]
    assert len(warns) == 1 and "2024-03-03" in warns[0].getMessage()
    caplog.clear()

    # RECOVERY (what the WARN prescribes): freeze the old store,
    # re-bootstrap on the drifted reference, re-bin from the seam's
    # baseline day (03, already ingested) into a new store
    fact = day_batch(1, 0.0).unionByName(day_batch(2, 0.0)).unionByName(
        day_batch(3, 500.0)
    )
    old_state = spark.read.parquet(old_store)
    new_edges_path = f"{tmp_root}/rb_new_edges"
    new_store = f"{tmp_root}/rb_new_store"
    hist_edges(day_batch(3, 500.0), "value").write.parquet(new_edges_path)
    new_edges = pinned_edges(spark.read.parquet(new_edges_path), "t")
    rebin_hist_state(
        fact, "ts", "value", new_edges, "2024-03-04", old_state=old_state
    ).withColumn("_batch_id", F.lit(-1)).write.partitionBy("_batch_id").parquet(
        new_store
    )

    # the new guarded sink continues the stream; the drifted family is
    # now IN-family, so the guard stays silent
    new_sink = hist_state_sink(
        new_store, new_edges_path, "ts", "value", edge_guard_threshold=0.4
    )
    with caplog.at_level(logging.WARNING, logger=logger):
        new_sink(day_batch(4, 500.0), 3)
        new_sink(day_batch(5, 500.0), 4)
    assert not [r for r in caplog.records if "edge_share" in r.getMessage()]

    old_edges = pinned_edges(spark.read.parquet(old_edges_path), "t")
    got = {
        str(r["day"]): r.asDict()
        for r in stitched_psi(
            old_state, spark.read.parquet(new_store), "2024-03-04",
            old_edges=old_edges, new_edges=new_edges,
        ).collect()
    }
    assert {d: r["edge_family"] for d, r in got.items()} == {
        "2024-03-02": "old", "2024-03-03": "old",
        "2024-03-04": "new", "2024-03-05": "new",
    }
    # the drift day scored under the old family; the seam day is calm
    # under the new family (both of its days share one distribution)
    assert got["2024-03-03"]["shifted"]
    assert not got["2024-03-04"]["shifted"]
    # the new side of the stitch == the plain reader on the new store
    alone = {
        str(r["day"]): r["psi"]
        for r in psi_from_hist_state(
            spark.read.parquet(new_store), len(new_edges) + 1
        ).collect()
    }
    for d in ("2024-03-04", "2024-03-05"):
        assert got[d]["psi"] == alone[d]


def _jobs_of(spark, action) -> int:
    """Spark jobs ``action()`` submits, counted by the status tracker
    under a job group of its own."""
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_sink_micro_batch_job_budget(spark, tmp_root):
    """A micro-batch that probes history runs a fixed number of Spark
    jobs: the near-dup sink 9 (sign 2 — one shuffle —, the drop-set
    checkpoint 3, two writes of 2), the embedding sink 8 (its signing
    pass is narrow), and the histogram sink 2 once its pinned edges
    are read (the write's shuffle and result)."""
    from datetime import datetime

    from facolos_data_pipelines_spark.quality.checks import hist_edges
    from facolos_data_pipelines_spark.streaming import (
        embedding_near_dup_sink,
        hist_state_sink,
        near_dup_filter_sink,
    )

    words = _BASE_TEXT.split()
    docs = [(i, " ".join(words[i % 4:] + [f"w{i}"])) for i in range(12)]
    vecs = [(i, _vec(i, noise=0.01 * (i % 3))) for i in range(12)]
    sinks = {
        "docs": (
            near_dup_filter_sink(f"{tmp_root}/ds", f"{tmp_root}/dst", store_partitions=4),
            docs, _DOC_SCHEMA, 9,
        ),
        "vecs": (
            embedding_near_dup_sink(
                f"{tmp_root}/vs", f"{tmp_root}/vst", num_planes=4, num_bands=2,
                dim=8, store_partitions=4,
            ),
            vecs, _VEC_SCHEMA, 8,
        ),
    }
    for name, (fold, rows, schema, budget) in sinks.items():
        fold(spark.createDataFrame(rows[::2], schema), 0)
        second = spark.createDataFrame(rows[1::2], schema)
        assert _jobs_of(spark, lambda: fold(second, 1)) == budget, name

    events = [(datetime(2024, 3, 1 + i % 2, 12), float(i)) for i in range(40)]
    schema = "ts timestamp, value double"
    hist_edges(spark.createDataFrame(events, schema), "value").write.parquet(
        f"{tmp_root}/edges"
    )
    fold = hist_state_sink(f"{tmp_root}/hs", f"{tmp_root}/edges", "ts", "value")
    fold(spark.createDataFrame(events[:20], schema), 0)
    second = spark.createDataFrame(events[20:], schema)
    assert _jobs_of(spark, lambda: fold(second, 1)) == 2


def test_sink_batch_of_identical_rows_keeps_the_min_id(spark, tmp_root):
    """One micro-batch holding 400 copies of one document (and of one
    vector) next to a few distinct rows: every copy shares every band
    key, so the in-batch sweep sees one 400-member bucket per band. It
    keeps the smallest id of the copies and every distinct row, and the
    store holds the band rows of the survivors only."""
    from facolos_data_pipelines_spark.streaming import (
        embedding_near_dup_sink,
        near_dup_filter_sink,
    )

    copies = range(100, 500)
    docs = [(i, _BASE_TEXT) for i in copies] + [
        (7, "other words about spark entirely"),
        (9, "a third unrelated sentence here"),
    ]
    vecs = [(i, _vec(1)) for i in copies] + [(7, _vec(4)), (9, _vec(6))]
    sinks = {
        "docs": (
            near_dup_filter_sink(f"{tmp_root}/ds", f"{tmp_root}/dst", store_partitions=4),
            docs, _DOC_SCHEMA, "doc_id", "ds", "dst",
        ),
        "vecs": (
            embedding_near_dup_sink(
                f"{tmp_root}/vs", f"{tmp_root}/vst", num_planes=4, num_bands=2,
                dim=8, store_partitions=4,
            ),
            vecs, _VEC_SCHEMA, "vec_id", "vs", "vst",
        ),
    }
    for name, (fold, rows, schema, id_col, out, store) in sinks.items():
        fold(spark.createDataFrame(rows, schema), 0)
        kept = {r[0] for r in spark.read.parquet(f"{tmp_root}/{out}").select(id_col).collect()}
        assert kept == {7, 9, 100}, name
        filed = {r[0] for r in spark.read.parquet(f"{tmp_root}/{store}").select(id_col).collect()}
        assert filed == kept, name

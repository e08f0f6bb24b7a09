"""Structured Streaming surface — SURVEY.md §2.7.

The reference's "streaming" is an Airflow DAG firing every 10-15 min
with a lookback window and PK-based duplicate rejection
(config/production.py:16, dags/incremental_etl_dag.py:31-44,
misa_crm_extractor.py:244-285). Structured Streaming formalizes each
piece:

| reference mechanism            | here                                   |
|--------------------------------|----------------------------------------|
| 10-min scheduled cycle         | trigger(processingTime=...) /          |
|                                | trigger(availableNow=True) per run     |
| lookback re-read + PK reject   | withWatermark + dropDuplicates(pk)     |
| MERGE upsert on arrival        | foreachBatch merge_upsert sink         |
| per-cycle record counts        | StreamingQuery.lastProgress /          |
|                                | QueryListener                          |

Scale notes: the file source lists+reads only new files per trigger
(incremental by construction); watermark state is bounded by the
lookback horizon; the windowed aggregation state is per (window, key)
and expires with the watermark — this is the 100 TB-safe shape of the
reference's re-read-and-dedup loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..eager import materialize_counted


def read_parquet_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a landing directory (the streaming twin of
    the reference's per-cycle extract; new files = new pages/batches).

    ``max_files_per_trigger`` is the work-limit knob — the reference's
    MISA_MAX_PAGES_PER_CYCLE=2 (config/production.py:26)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def dedup_stream(
    stream: DataFrame,
    keys: list[str],
    ts_col: str,
    lookback: str = "24 hours",
    within_watermark: bool = True,
) -> DataFrame:
    """Watermarked key-dedup: the streaming twin of the reference's
    lookback-window re-read + rely-on-PK-rejection pattern
    (tiktok_shop_staging_loader.py:144-149, extractor lookback F1).

    Default uses ``dropDuplicatesWithinWatermark`` (Spark >= 3.5): a
    key's dedup state is evicted once the watermark passes it, exactly
    the reference's 'duplicates only arrive within the lookback window'
    assumption — AND re-ingests that restamp event times still collapse.
    This matters at scale: plain ``dropDuplicates(keys)`` only cleans
    state when the event-time column is itself among the keys, so with
    PK-only keys its state grows without bound. Set
    ``within_watermark=False`` only for exact event-time dedup where
    ``keys`` includes the timestamp column."""
    wm = stream.withWatermark(ts_col, lookback)
    if within_watermark:
        return wm.dropDuplicatesWithinWatermark(keys)
    return wm.dropDuplicates(keys)


def windowed_event_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "24 hours",
    key_col: str = "event_type",
) -> DataFrame:
    """Tumbling-window counts with late-data watermark — the streaming
    twin of __spark_entry__.q_tumbling_window (same output schema) and
    the formalization of the reference's per-cycle count metrics
    (production_monitor.py:43-82)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), F.col(key_col))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), key_col, "n_events", "total_value")
    )


def session_event_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    key_col: str = "user_id",
    value_col: str | None = "value",
) -> DataFrame:
    """Gap-based session windows with late-data watermark — the
    streaming twin of operators.events.session_stats (same session
    boundaries: a session extends while consecutive events arrive
    within ``gap``). ``F.session_window`` keeps per-session state until
    the watermark passes session end, so state is bounded by active
    sessions, not history — the property that makes this viable on an
    unbounded 100 TB/day stream."""
    aggs = [F.count("*").cast("long").alias("n_events")]
    sel = [
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        F.col(key_col),
        F.col("n_events"),
    ]
    if value_col is not None:
        aggs.append(F.round(F.sum(value_col), 2).alias("total_value"))
        sel.append(F.col("total_value"))
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), F.col(key_col))
        .agg(*aggs)
        .select(*sel)
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    within: str = "1 hour",
    watermark: str = "2 hours",
    left_prefix: str = "l",
    right_prefix: str = "r",
) -> DataFrame:
    """Stream-stream inner join on key with an event-time interval:
    right events within ``[left.ts, left.ts + within]`` — the streaming
    attribution/conversion join (click -> purchase within the hour).

    Both sides carry watermarks and the join condition bounds the
    event-time range in ONE direction plus the watermark in the other,
    which is exactly what Spark needs to evict join state: each side's
    buffered rows are dropped once the other side's watermark passes
    the latest instant they could still match. Without the interval
    bound the state would grow forever — the property that makes
    stream-stream joins viable on an unbounded feed.
    """
    lw = left.withWatermark(ts_col, watermark).alias(left_prefix)
    rw = right.withWatermark(ts_col, watermark).alias(right_prefix)
    cond = F.expr(
        f"{left_prefix}.{key_col} = {right_prefix}.{key_col} AND "
        f"{right_prefix}.{ts_col} >= {left_prefix}.{ts_col} AND "
        f"{right_prefix}.{ts_col} <= {left_prefix}.{ts_col} + INTERVAL {within}"
    )
    return lw.join(rw, cond, "inner")


def run_available_now(
    stream: DataFrame,
    sink_path: str,
    checkpoint_path: str,
    output_mode: str = "append",
):
    """Drain everything currently available, then stop — one reference
    'cycle' (the catchup=False, max_active_runs=1 DAG run). Returns the
    finished StreamingQuery (inspect .lastProgress for cycle metrics)."""
    q = (
        stream.writeStream.outputMode(output_mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_path)
        .format("parquet")
        .option("path", sink_path)
        .start()
    )
    q.awaitTermination()
    return q


def running_totals_stateful(
    stream: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-key event count and value sum maintained across micro-batches.

    This is the formalization of the reference monitor's cross-cycle
    counters (consecutive failures, rolling totals —
    production_monitor.py:39-82): state the reference kept in a Python
    object on the scheduler now lives in Spark's versioned state store,
    checkpointed, partitioned by key, and recoverable. Arrow-batched:
    one pandas frame per key-batch, state is a single (count, sum)
    tuple per key.
    """
    import pandas as pd

    out_schema = T.StructType(
        [
            T.StructField(key_col, T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {key_col: [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    return stream.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def merge_upsert_sink(
    stream: DataFrame,
    sink_path: str,
    checkpoint_path: str,
    keys: list[str],
    order_col: str = "etl_updated_at",
):
    """foreachBatch MERGE sink — per micro-batch, upsert into the
    staging table (S11 semantics inside the streaming loop). Each batch
    is also internally deduped last-writer-wins so replayed batches are
    idempotent (exactly-once effect on keys)."""
    from ..operators.merge import latest_by_key
    from ..sources.io import upsert_parquet

    def do_merge(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            deduped = latest_by_key(batch_df, keys, order_col=order_col)
            upsert_parquet(batch_df.sparkSession, deduped, sink_path, keys, order_col)

    q = (
        stream.writeStream.outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(do_merge)
        .start()
    )
    q.awaitTermination()
    return q


_STORE_META_NAME = "_NEAR_DUP_STORE_META.json"


def _store_meta_path(bucket_store_path: str) -> str:
    return bucket_store_path.rstrip("/") + "/" + _STORE_META_NAME


def _hadoop_fs(spark, path: str):
    """(FileSystem, Path) for any Hadoop-resolvable URI — file://, hdfs://,
    s3a://, ... — via the session's Hadoop configuration."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


#: Sentinel distinguishing "meta file exists but could not be read/parsed"
#: from "meta file absent" (None). A transient read failure of a VALID meta
#: must never route into the adopt-and-overwrite branch — overwriting the
#: true N with the configured one silently breaks cross-batch dedup.
_META_UNREADABLE = object()


def _meta_template(index=None) -> str:
    """The repair text for a store meta: the layout key plus the signing
    family keys of ``index`` (a :class:`~..operators.band_index.BandIndex`),
    or a pointer to them when the family is not known here."""
    if index is None:
        return (
            '{"store_partitions": N} plus the signing-family keys its sink '
            "recorded"
        )
    keys = "".join(f', "{k}": <{k}>' for k in index.family)
    return '{"store_partitions": N' + keys + "}"


def _raise_unreadable_meta(path: str, refusal: str, index=None) -> None:
    """The one refusal message for a meta file that EXISTS but can't be
    parsed — shared by every consumer of the _META_UNREADABLE sentinel
    so the contract text (and its repair instructions) can't drift
    between the adopt and compact sites."""
    raise ValueError(
        f"bucket store at {path!r} has a layout meta file "
        f"({_STORE_META_NAME}) that exists but could not be read or "
        f"parsed; {refusal}. Repair or remove the meta file (its content "
        f"should be {_meta_template(index)}, with the values the store was "
        "created with) and retry"
    )


def _read_store_meta(bucket_store_path: str, spark=None):
    """Read the bucket store's layout meta (underscore-prefixed, so Spark's
    parquet reader ignores it like _SUCCESS). Plain-local paths use the
    local filesystem directly; URI paths ('://' — HDFS, object stores,
    file://) go through the Hadoop FileSystem API and need ``spark``.
    Returns the parsed dict, ``None`` when the file is provably ABSENT, or
    the ``_META_UNREADABLE`` sentinel when it exists (or its existence can't
    be established) but can't be read/parsed — callers must treat the
    sentinel as "layout unknown, do NOT adopt/overwrite"."""
    import json
    import os

    mp = _store_meta_path(bucket_store_path)
    if "://" in bucket_store_path:
        if spark is None:
            return None
        try:
            fs, jpath = _hadoop_fs(spark, mp)
            if not fs.exists(jpath):
                return None
        except Exception:
            # Can't even establish existence: ambiguous, not provably absent.
            return _META_UNREADABLE
        try:
            stream = fs.open(jpath)
            try:
                payload = bytes(stream.readAllBytes())
            finally:
                stream.close()
            return json.loads(payload.decode("utf-8"))
        except Exception:
            return _META_UNREADABLE
    if not os.path.isfile(mp):
        return None
    try:
        with open(mp) as fh:
            return json.load(fh)
    except Exception:
        return _META_UNREADABLE


def _write_store_meta(
    bucket_store_path: str,
    store_partitions: int,
    spark=None,
    extra: dict | None = None,
) -> None:
    import json

    record = {"store_partitions": int(store_partitions)}
    if extra:
        record.update(extra)
    payload = json.dumps(record)
    mp = _store_meta_path(bucket_store_path)
    if "://" in bucket_store_path:
        if spark is None:
            return
        try:
            fs, jpath = _hadoop_fs(spark, mp)
            out = fs.create(jpath, True)
            try:
                out.write(bytearray(payload.encode("utf-8")))
            finally:
                out.close()
        except Exception:
            pass  # best-effort: _effective_store_partitions trusts config then
        return
    with open(mp, "w") as fh:
        fh.write(payload)


def _effective_store_partitions(
    spark,
    bucket_store_path: str,
    requested: int,
    index=None,
) -> int:
    """Layout of an EXISTING bucket store is sticky: the partition count it
    was created with wins, and a mismatched request raises instead of
    silently probing the wrong pmod space (a wrong N computes
    pmod(hash key, N_new) != stored bucket_pmod, so every probe
    misses and cross-batch duplicates leak through). ``index`` is the
    store's :class:`~..operators.band_index.BandIndex`: its hash key
    (band_hash for the minhash store, sig for the embedding band store;
    band_hash when None) is the pmod column, and its family travels
    into the meta when a remote legacy store adopts the configured
    layout. Legacy stores written before the meta file: unpartitioned
    layout -> keep writing unpartitioned (mixing layouts makes Spark's
    partition-discovery read silently drop the root-level legacy rows);
    local partitioned layout without meta -> unrecoverable N, raise with
    a migration instruction.
    REMOTE ('://') partitioned stores whose meta is provably ABSENT
    (pre-meta legacy stores, or object stores where the best-effort write
    failed) trust the configured value instead of raising — the pre-meta
    behavior, since a raise there is unrecoverable through this API — and
    adopt it as the sticky layout by (re)writing the meta, but only after a
    data-level consistency proof: stored ``bucket_pmod`` must equal
    ``pmod(hash key, requested)`` on a row sample (any mismatch proves the
    store was written with a DIFFERENT N — including a smaller one, which
    the max-pmod bound alone can't detect). A meta file that EXISTS but
    can't be read (transient store error, corrupt JSON) raises instead of
    adopting: overwriting a valid-but-unreadable meta would silently pin
    the wrong N."""
    hash_col = index.keys[1] if index is not None else "band_hash"
    repair = (
        f"write the meta file ({_meta_template(index)}) with the values the "
        "store was created with before probing it"
    )
    meta = _read_store_meta(bucket_store_path, spark)
    if meta is _META_UNREADABLE:
        _raise_unreadable_meta(
            bucket_store_path,
            "refusing to adopt the configured store_partitions over a "
            "possibly-valid recorded layout",
            index,
        )
    if meta is not None:
        n = int(meta["store_partitions"])
        if n == 0:
            return 0  # unpartitioned stores stay unpartitioned, like legacy
        if requested != n:
            raise ValueError(
                f"bucket store at {bucket_store_path!r} was created with "
                f"store_partitions={n} but the sink was configured with "
                f"{requested}; the layout is sticky — pass {n}, or rebuild "
                "the store (compact_bucket_store keeps the existing layout)"
            )
        return n
    store = spark.read.parquet(bucket_store_path)
    cols = store.columns
    if "bucket_pmod" in cols:
        if "://" in bucket_store_path and requested > 0:
            # Sanity-check before adopting: a stored pmod value >=
            # requested proves the store was written with a LARGER N —
            # adopting the configured value would probe the wrong pmod
            # space and silently leak cross-batch duplicates (and pin
            # the wrong N as sticky). Partition-column max is a
            # metadata-only scan.
            max_pmod = store.agg(F.max("bucket_pmod")).first()[0]
            if max_pmod is not None and int(max_pmod) >= requested:
                raise ValueError(
                    f"bucket store at {bucket_store_path!r} has "
                    f"bucket_pmod={max_pmod} on disk, which is impossible "
                    f"under the configured store_partitions={requested}; "
                    "the original N is larger and unrecoverable from data "
                    f"alone — {repair}"
                )
            # The max-pmod bound only rules out a LARGER original N. A
            # store written with a SMALLER N (e.g. N=4, requested=8) has
            # every pmod < requested and would pass it — so prove
            # consistency on the data itself: recompute pmod(band_hash,
            # requested) on a bounded row sample and compare to the stored
            # partition value. Identical for every row iff the layouts
            # agree (different moduli disagree on ~half of uniformly
            # hashed rows, so 1000 rows make a false adopt vanishingly
            # unlikely); one mismatching row proves a different N.
            mismatch = (
                store.select(hash_col, "bucket_pmod")
                .where(F.col(hash_col).isNotNull())
                .limit(1000)
                .where(
                    F.pmod(F.col(hash_col), F.lit(requested)).cast("long")
                    != F.col("bucket_pmod").cast("long")
                )
                .limit(1)
                .count()
            )
            if mismatch:
                raise ValueError(
                    f"bucket store at {bucket_store_path!r} has rows whose "
                    f"stored bucket_pmod != pmod({hash_col}, {requested}): "
                    "it was written with a different store_partitions than "
                    "the configured value; the original N is unrecoverable "
                    f"from data alone — {repair}"
                )
            _write_store_meta(
                bucket_store_path, requested, spark,
                index.family if index is not None else None,
            )
            return requested
        raise ValueError(
            f"bucket store at {bucket_store_path!r} is bucket_pmod-"
            f"partitioned but has no {_STORE_META_NAME}; its partition "
            f"count is unrecoverable from data alone — {repair}"
        )
    return 0  # legacy unpartitioned store: stay unpartitioned


def _pinned_store_partitions(
    spark,
    store_path: str,
    requested: int,
    index,
    adopt_family_if_meta_absent: bool = False,
) -> int:
    """Check an EXISTING store's recorded signing family against
    ``index`` before any probe, then resolve its sticky layout
    (:func:`_effective_store_partitions`). A recorded family that
    differs raises: signatures under another family never match, so the
    probe would silently miss every historical bucket. A layout-only or
    absent meta is accepted only for an index with ``legacy_meta_ok``
    (the sink then records the configured family on its next write);
    otherwise the true family is unrecoverable from band rows, so both
    refuse — the absent case unless ``adopt_family_if_meta_absent``."""
    meta = _read_store_meta(store_path, spark)
    if meta is _META_UNREADABLE:
        _raise_unreadable_meta(
            store_path,
            f"refusing to probe — the recorded {index.noun} and layout "
            "must be readable before any signature can be trusted",
            index,
        )
    configured = ", ".join(f"{k}={v!r}" for k, v in index.family.items())
    if meta is not None and index.family.keys() & meta.keys():
        recorded = {k: meta.get(k) for k in index.family}
        if recorded != index.family:
            stored = ", ".join(f"{k}={v!r}" for k, v in recorded.items())
            raise ValueError(
                f"band store at {store_path!r} was created with {stored} "
                f"but the sink was configured with {configured}; signatures "
                f"under a different {index.noun} never match — pass the "
                "stored family, or re-index the accepted corpus into a new "
                "store"
            )
    elif meta is not None and not index.legacy_meta_ok:
        # a family-less meta (e.g. hand-written from the layout-repair
        # instructions) must not silently disable the family check
        raise ValueError(
            f"band store at {store_path!r} has a layout meta without the "
            f"pinned {index.noun}; write the meta the store was CREATED "
            f"with ({_meta_template(index)}) before probing — adopting the "
            "configured family would silently miss every historical "
            "bucket if it differs"
        )
    elif meta is None and not (index.legacy_meta_ok or adopt_family_if_meta_absent):
        raise ValueError(
            f"band store at {store_path!r} exists but has no meta file, so "
            f"its {index.noun} cannot be verified; adopting the configured "
            f"family ({configured}) would silently miss every historical "
            "bucket if it differs, and pin the wrong family forever — "
            f"write the meta file ({_meta_template(index)}) with the family "
            "the store was CREATED with, or pass "
            "adopt_family_if_meta_absent=True if the configured family is "
            "known to be the creation family"
        )
    return _effective_store_partitions(spark, store_path, requested, index)


def _band_store_sink(
    index,
    docs_sink_path: str,
    store_path: str,
    store_partitions: int,
    sweep,
    admit=None,
    adopt_family_if_meta_absent: bool = False,
):
    """The foreachBatch body both near-dup sinks share; the store it
    keeps follows the band-store contract of
    :class:`~..operators.band_index.BandIndex`. Per micro-batch: check
    the store's pinned family and layout, sign the batch ONCE
    (checkpointed band rows), ``sweep(batch, bands) -> survivors``
    within the batch, drop every survivor sharing a band key with the
    store (broadcast probe), checkpoint the survivors, then append the
    docs, their band rows and — when it lacks the family — the meta.
    ``admit(batch_df, batch_id) -> (batch, after_sign)`` optionally
    filters the batch first; ``after_sign`` runs once the signing
    checkpoint (the batch's first full scan) has returned."""
    from ..sources.io import table_exists

    id_col, keys = index.id_col, list(index.keys)

    def filter_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if not batch_df.head(1):
            return
        store_exists = table_exists(spark, store_path)
        n_parts = (
            _pinned_store_partitions(
                spark, store_path, store_partitions, index,
                adopt_family_if_meta_absent,
            )
            if store_exists
            else store_partitions
        )
        batch, after_sign = admit(batch_df, batch_id) if admit else (batch_df, None)
        # ONE signing chain per micro-batch: the in-batch sweep, the
        # store probe and the store append all select from these rows.
        bands = index.sign(batch)
        if n_parts:
            bands = bands.withColumn(
                "bucket_pmod", F.pmod(F.col(keys[1]), F.lit(n_parts))
            )
        bands, _ = materialize_counted(bands)
        if after_sign:
            after_sign()
        survivors = sweep(batch, bands.select(id_col, *keys))
        if store_exists:
            store = spark.read.parquet(store_path)
            probe_keys = (
                ["bucket_pmod"] if n_parts and "bucket_pmod" in store.columns else []
            ) + keys
            # Broadcast the (small) batch side; the store is scanned
            # map-side only — no store shuffle, and the partition-column
            # equi-join key lets dynamic partition pruning skip store
            # partitions the batch doesn't touch. Probing the WHOLE
            # batch's band rows (not just in-batch survivors) returns a
            # superset of hit ids whose extras are exactly the in-batch
            # losers — already dropped — so the survivor set is unchanged.
            hit_ids = (
                store.join(
                    F.broadcast(
                        bands.select(*probe_keys, F.col(id_col).alias("_probe_id"))
                    ),
                    probe_keys,
                )
                .select(F.col("_probe_id").alias(id_col))
                .dropDuplicates()
            )
            survivors = survivors.join(hit_ids, id_col, "left_anti")
        survivors, _ = materialize_counted(survivors)
        survivors.write.mode("append").parquet(docs_sink_path)
        out = bands.join(survivors.select(id_col), id_col, "left_semi").select(
            *(["bucket_pmod"] if n_parts else []), *keys, id_col
        )
        writer = out.write.mode("append")
        if n_parts:
            writer = writer.partitionBy("bucket_pmod")
        writer.parquet(store_path)
        meta = _read_store_meta(store_path, spark)
        if meta is None or (
            meta is not _META_UNREADABLE and not index.family.keys() <= meta.keys()
        ):
            _write_store_meta(store_path, n_parts, spark, index.family)

    return filter_batch


def near_dup_filter_sink(
    docs_sink_path: str,
    bucket_store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.8,
    family: str = "multiply_add",
    store_partitions: int = 16,
):
    """foreachBatch factory: streaming corpus ingestion with near-dup
    dedup against everything already ingested. Per micro-batch:

    1. WITHIN-batch near-dedup with the full verified MinHash pipeline
       (minhash_dedup's exact semantics — LSH candidates, exact Jaccard
       verify, drop the higher id — built from band rows the batch
       signs ONCE per micro-batch);
    2. CROSS-batch dedup against the persisted band-bucket store: a doc
       sharing ANY (band_id, band_hash) bucket with prior ingests is
       dropped. This decision is bucket-level — the LSH collision
       probability curve IS the dedup criterion (~0.5 crossover at
       Jaccard 0.6 for 32x8) — because verifying would require keeping
       every historical text online; keep a text/shingle store and
       verify in a second join if your corpus needs exactness;
    3. survivors append to ``docs_sink_path``; their buckets append to
       ``bucket_store_path`` (band_id, band_hash, doc_id — id kept for
       lineage/debugging).

    The store follows the band-store contract of
    :class:`~..operators.band_index.BandIndex`: it is written
    PARTITIONED by ``bucket_pmod = pmod(band_hash, store_partitions)``
    and probed by broadcasting the micro-batch's buckets against a
    map-only store scan, so the per-batch cost never shuffles the store;
    ``compact_bucket_store`` dedups and re-files it at maintenance time.
    State is one parquet table of id-width bucket rows, O(docs x bands),
    never text.

    REPLAY: a redelivered micro-batch whose earlier delivery completed
    BOTH appends finds its own buckets in the store and drops every
    doc. It is not replay-safe by construction: the crash window is the
    gap between the survivor append and the bucket append. A failure
    there leaves the docs landed but un-indexed, and the redelivery
    appends them again — at-least-once on the docs side for that one
    batch. Recovery: ``compact_bucket_store`` plus a doc-id dedup pass
    over the docs sink.

    The layout AND the signing family are STICKY and PERSISTED in
    ``_NEAR_DUP_STORE_META.json`` inside the store directory
    (store_partitions + num_hashes + bands + shingle_n + family):
    re-opening with a different ``store_partitions`` raises (a
    mismatched N would probe the wrong pmod space), and so does a
    different signing family (its buckets never match). A store whose
    meta records only the layout, or none, is probed as configured and
    gains the family on its next write. ``store_partitions=0`` keeps the
    legacy unpartitioned layout, and a legacy unpartitioned store keeps
    being written unpartitioned regardless of the configured default
    (mixing layouts makes Spark's partition discovery silently drop the
    root-level legacy rows).
    """
    from ..operators.dedup_components import _drop_pair_losers
    from ..operators.dedup_minhash import _minhash_index, lsh_candidate_pairs

    index = _minhash_index(
        text_col, id_col, num_hashes, bands, shingle_n, family, threshold
    )

    def sweep(batch: DataFrame, band_rows: DataFrame) -> DataFrame:
        # minhash_dedup's one-sweep semantics: lsh_candidate_pairs ->
        # exact-Jaccard verify (verified_near_dup_pairs) -> drop id_b
        pairs = index.verify(lsh_candidate_pairs(band_rows, id_col), batch)
        return _drop_pair_losers(batch, pairs, id_col, transitive=False)

    return _band_store_sink(
        index, docs_sink_path, bucket_store_path, store_partitions, sweep
    )


def hist_state_sink(
    store_path: str,
    edges_path: str,
    ts_col: str = "ts",
    col: str = "value",
    edge_guard_threshold: "float | None" = None,
):
    """foreachBatch factory: the STREAMING writer of the incremental
    drift loop (quality.checks.hist_state) — each micro-batch appends
    its (day, bin, n) histogram rows, bucketed under the edges PINNED
    at ``edges_path`` (quality.checks.hist_edges, written once at
    bootstrap — the store contract: counts under different edges never
    compare). Downstream, quality.checks.psi_from_hist_state scores
    day-over-day drift from the state table alone: a live PSI monitor
    whose per-batch cost is one narrow scan of the batch and whose
    scoring query never touches a historical fact row.

    REPLAY-IDEMPOTENT the way a counting sink must be: unlike the
    near-dup sinks (where the redelivery of a completed batch is
    absorbed by the bucket probe), recounting a redelivered micro-batch would DOUBLE
    its mass, so rows land partitioned by ``_batch_id`` with dynamic
    partition overwrite — a replayed batch id overwrites its own
    partition instead of appending next to it (the standard
    exactly-once-effect pattern for foreachBatch under at-least-once
    delivery). Readers are unaffected: psi_from_hist_state sums
    duplicate (day, bin) rows ACROSS batch partitions by design, and
    the extra column is ignored.

    ``edge_guard_threshold`` streams the store's re-bootstrap guard
    (quality.checks.hist_edges_drift) as a LIVE alert: after each
    append, the batch's OWN (day, bin, n) rows — already at hand,
    days x bins tiny — are scored for mass in the open-end terminal
    bins, and any flagged day logs a WARNING naming the day, its edge
    share, and the re-bootstrap instruction. This is the streamed form
    of the batch loop's self-policing contract: a feed that drifts
    past the pinned edges announces itself within ONE micro-batch of
    doing so, instead of waiting for an offline audit of the store.
    The recovery the WARN points at is implemented
    (quality.checks.rebin_hist_state + stitched_psi): freeze this
    store, re-bootstrap edges on a fresh window, re-bin from the
    seam's baseline day into a NEW store path, point a new sink at it
    (new edges_path + store_path), and read PSI across the seam with
    the stitched reader.
    The bin count derives from the pinned family (the mismatch-proof
    call form); the batch frame is checkpointed once so the guard adds
    a tiny-aggregate read, not a second batch scan. ``None`` (default)
    keeps the guard off."""

    def append_batch(batch_df: DataFrame, batch_id: int) -> None:
        import logging

        from ..quality.checks import hist_edges_drift, hist_state, pinned_edges

        spark = batch_df.sparkSession
        if not batch_df.head(1):
            return
        edges = pinned_edges(
            spark.read.parquet(edges_path), "hist_state_sink"
        )
        rows = hist_state(batch_df, ts_col, col, edges).withColumn(
            "_batch_id", F.lit(int(batch_id))
        )
        if edge_guard_threshold is not None:
            rows, _ = materialize_counted(rows)
        (
            rows.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(store_path)
        )
        if edge_guard_threshold is not None:
            flagged = (
                hist_edges_drift(
                    rows.drop("_batch_id"),
                    threshold=edge_guard_threshold,
                    edges=edges,
                )
                .filter(F.col("re_bootstrap"))
                .collect()
            )
            for r in flagged:
                logging.getLogger(__name__).warning(
                    "hist_state_sink batch %s: day %s has edge_share "
                    "%.4f > %.2f of its mass in the open-end terminal "
                    "bins — the feed has outgrown the pinned edges; "
                    "re-bootstrap hist_edges on a fresh reference window "
                    "and re-bin (PSI over the drifted region has lost "
                    "resolution)",
                    batch_id, r["day"], r["edge_share"], edge_guard_threshold,
                )

    return append_batch


def embedding_near_dup_sink(
    docs_sink_path: str,
    band_store_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_planes: int = 12,
    num_bands: int = 4,
    dim: int | None = None,
    signature_impl: str = "expr",
    store_partitions: int = 16,
    adopt_family_if_meta_absent: bool = False,
):
    """foreachBatch factory: streaming EMBEDDING ingestion with
    near-dup dedup against everything already ingested — the
    hyperplane-LSH twin of :func:`near_dup_filter_sink`, completing
    the dedup-family matrix (the embedding family's batch delta loop
    is operators.dedup_embedding.embedding_dedup_delta; this is its
    streaming sink). Per micro-batch:

    1. WITHIN-batch near-dedup with the full verified pipeline
       (embedding_dedup — vectors are at hand, so candidates get the
       exact cosine check at ``threshold``);
    2. CROSS-batch dedup against the persisted band-signature store
       (embedding_band_state rows): a vector sharing ANY (band, sig)
       bucket with prior ingests is dropped. Bucket-level on purpose —
       the hyperplane collision curve IS the dedup criterion here
       (P[band match] = (1 - theta/pi)^num_planes per band), because
       cosine-verifying would require keeping every historical vector
       online; keep the accepted corpus queryable and verify in a
       second join if your pipeline needs exactness (that IS
       embedding_dedup_delta — run it as the foreachBatch body
       instead, at the cost of the corpus-side vector fetch per
       batch);
    3. survivors append to ``docs_sink_path``; their band rows append
       to ``band_store_path`` (band, sig, id — id kept for lineage).

    The store follows the band-store contract of
    :class:`~..operators.band_index.BandIndex` — broadcast pmod probe,
    sticky layout, replay and its crash window are those of
    :func:`near_dup_filter_sink`; here the store is partitioned by
    ``bucket_pmod = pmod(sig, store_partitions)`` and
    ``compact_bucket_store`` takes ``id_col="vec_id", key_cols=("band",
    "sig")``. ZERO-NORM vectors are DROPPED (logged per batch): they
    have no defined cosine and no bucket identity, so they carry no
    replay protection — a policy difference from the batch operators
    (which pass them through as survivors) that the streaming contract
    forces.

    The plane family is STICKY and PERSISTED in the store meta
    (``_NEAR_DUP_STORE_META.json``: store_partitions + num_planes +
    num_bands): re-opening the store with mismatched
    ``num_planes``/``num_bands`` raises instead of silently missing
    every historical bucket. ``num_planes`` must be an explicit int
    (embedding_band_state rejects 'auto'/bool) and — because the
    decision here is bucket-level, NOT verified — it must be sized for
    the COLLISION RATE at the target corpus, not for bucket occupancy:
    expected false drops per vector ~= N_target * num_bands * 2^-p for
    near-orthogonal embeddings, so pick p >= log2(N_target * num_bands
    / eps) for a false-drop budget eps (e.g. p=24 holds eps ~0.05 at
    N=200k, bands=4). Larger p trades recall on merely-similar pairs
    (P[band] = (1 - theta/pi)^p) for precision — near-EXACT duplicates
    (theta ~ 0) keep colliding at any practical p, which is the
    regime a bucket-level streaming gate is for; the occupancy-sized
    default (12) suits the verified batch loop, not this sink, at
    large N. ``store_partitions=0`` keeps an unpartitioned layout.

    When an EXISTING store's meta lacks the plane family, or is
    provably ABSENT (a remote store whose best-effort meta write
    failed, or a local legacy unpartitioned store), the true plane
    family is unrecoverable from (band, sig) data, so the sink REFUSES
    to probe rather than silently adopting the configured family
    (which, if wrong, would miss every historical bucket AND pin the
    wrong family forever). ``adopt_family_if_meta_absent=True`` is the
    explicit operator override for the absent case when you know the
    store was created with exactly this (num_planes, num_bands); the
    sink then adopts and pins the configured family (layout still
    data-proven via the pmod check for remote partitioned stores)."""
    import logging

    from ..operators.dedup_embedding import (
        _cosine_index,
        _norm_sq,
        embedding_dedup,
    )

    # fail fast on a drifting plane family (bool subclasses int)
    if not isinstance(num_planes, int) or isinstance(num_planes, bool):
        raise ValueError(
            "embedding_near_dup_sink: num_planes must be an explicit int "
            "— the store pins one plane family across the stream's whole "
            "life; size it for the TARGET corpus"
        )
    index = _cosine_index(
        vec_col, id_col, num_planes, num_bands, dim, signature_impl, threshold
    )

    def admit(batch_df: DataFrame, batch_id: int):
        # degenerate vectors — NULL, zero-norm, or carrying a NaN/NULL
        # element — have no defined cosine and no stable bucket
        # identity (a NaN dot-product compares TRUE against every
        # hyperplane: NaN > 0 in Spark's ordering, so two arbitrary
        # NaN vectors would collide in every band), hence no replay
        # protection: drop loudly, not silently. The kept predicate is
        # the exact complement of the counted one.
        scoped = batch_df.withColumn("_nsq", _norm_sq(F.col(vec_col)))
        bad = (
            F.col(vec_col).isNull()
            | F.col("_nsq").isNull()  # a NULL element nulls the fold
            | F.isnan("_nsq")
            | (F.col("_nsq") <= 0)
        )
        # The degenerate count rides the batch's first full scan — the
        # band-row checkpoint — via the Observation API instead of a
        # dedicated count() job. CollectMetrics sits BELOW the
        # keep-filter so it sees every row, and the checkpoint is an
        # unconditional FULL scan, so the count is complete once it
        # returns (embedding_dedup's LocalLimit-bounded verify-dispatch
        # probe runs later and can never be the scan that fills it).
        deg_obs = Observation()
        batch = (
            scoped.observe(deg_obs, F.count(F.when(bad, True)).alias("n_bad"))
            .filter(~bad)
            .drop("_nsq")
        )

        def log_degenerate() -> None:
            n_bad = int(deg_obs.get["n_bad"])
            if n_bad:
                logging.getLogger(__name__).info(
                    "embedding_near_dup_sink batch %s: dropped %d degenerate "
                    "vector(s) (NULL/zero-norm/NaN) — no bucket identity, "
                    "not replay-protectable",
                    batch_id, n_bad,
                )

        return batch, log_degenerate

    def sweep(batch: DataFrame, band_rows: DataFrame) -> DataFrame:
        return embedding_dedup(
            batch, vec_col, id_col, threshold, num_planes, num_bands, dim,
            signature_impl=signature_impl, bands_df=band_rows,
        )

    return _band_store_sink(
        index, docs_sink_path, band_store_path, store_partitions, sweep,
        admit, adopt_family_if_meta_absent,
    )


def compact_bucket_store(
    spark: SparkSession,
    bucket_store_path: str,
    id_col: str = "doc_id",
    target_file_mb: int = 128,
    key_cols: tuple[str, ...] = ("band_id", "band_hash"),
) -> dict[str, int]:
    """Maintenance compaction for a streaming band-bucket store: dedup
    bucket rows (one row per ``key_cols`` bucket — (band_id, band_hash)
    for ``near_dup_filter_sink``'s minhash store, ("band", "sig") with
    ``id_col="vec_id"`` for ``embedding_near_dup_sink``'s store — min-id
    owner kept for lineage) and rewrite with bounded file counts,
    preserving the ``bucket_pmod`` partition layout when present.

    Run this between micro-batch cycles (single-writer contract and
    local-path rename swap, same as ``compact_parquet``) on whatever
    cadence keeps the per-partition file count bounded — the probe join
    is correct with duplicates and small files, just slower; compaction
    restores the O(distinct buckets) scan in ONE pass (dedup + re-file
    in the same job, no second rewrite). Returns ``{"files_before",
    "files_after", "rows_before", "rows_after"}``.
    """
    import glob
    import os
    import shutil

    if "://" in bucket_store_path:
        raise ValueError(
            "compact_bucket_store handles local paths only; use the table "
            "format's compaction on remote filesystems"
        )
    path = bucket_store_path.rstrip("/")
    files = [
        f
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if os.path.isfile(f)
    ]
    if not files:
        raise ValueError(f"compact_bucket_store: no parquet files under {path!r}")
    total_bytes = sum(os.path.getsize(f) for f in files)
    n_out = max(1, -(-total_bytes // (target_file_mb * 1024 * 1024)))  # ceil

    # read the layout meta BEFORE any compaction work: a meta file that
    # exists but can't be parsed must refuse up front (same contract as
    # _effective_store_partitions) — compacting without it would strand
    # the store's pinned partition count
    meta = _read_store_meta(path, spark)
    if meta is _META_UNREADABLE:
        _raise_unreadable_meta(
            path,
            "refusing to compact — the meta must travel with the "
            "compacted store",
        )

    store = spark.read.parquet(path)
    rows_before = store.count()
    partitioned = "bucket_pmod" in store.columns
    part_cols = ["bucket_pmod"] if partitioned else []
    deduped = store.groupBy(*part_cols, *key_cols).agg(
        F.min(id_col).alias(id_col)
    )
    if partitioned:
        # one output file per store partition (buckets are id-width;
        # a partition of a 100 TB store is still modest parquet)
        deduped = deduped.repartition("bucket_pmod")
    else:
        deduped = deduped.repartition(int(n_out))
    tmp = path + "._compact_tmp"
    old = path + "._compact_old"
    for stale in (tmp, old):
        shutil.rmtree(stale, ignore_errors=True)
    writer = deduped.write.mode("overwrite")
    if partitioned:
        writer = writer.partitionBy("bucket_pmod")
    writer.parquet(tmp)
    rows_after = spark.read.parquet(tmp).count()
    if meta is not None:
        # the WHOLE meta travels with the compacted store — an
        # embedding band store's record also pins the plane family
        # (num_planes/num_bands); rewriting only the layout key would
        # silently disable the family check and let a later mismatched
        # family miss every historical bucket
        extra = {k: v for k, v in meta.items() if k != "store_partitions"}
        _write_store_meta(tmp, meta["store_partitions"], spark, extra or None)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    after = [
        f
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if os.path.isfile(f)
    ]
    return {
        "files_before": len(files),
        "files_after": len(after),
        "rows_before": rows_before,
        "rows_after": rows_after,
    }

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

from pyspark.sql import DataFrame, SparkSession
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
       verify, drop the higher id — scored inside each band bucket from
       the shingle sets the batch's ONE signing pass collected);
    2. CROSS-batch dedup against the persisted band-bucket store: a doc
       sharing ANY (band_id, band_hash) bucket with prior ingests is
       dropped. This decision is bucket-level — the LSH collision
       probability curve IS the dedup criterion (~0.5 crossover at
       Jaccard 0.6 for 32x8) — because verifying would require keeping
       every historical text online; keep a text/shingle store and
       verify in a second join if your corpus needs exactness;
    3. survivors land in ``docs_sink_path`` and their buckets in
       ``bucket_store_path`` (band_id, band_hash, doc_id — id kept for
       lineage/debugging), both tagged with the micro-batch's
       ``_batch_id``: the docs sink gains a ``_batch_id`` partition
       column.

    The store is a :class:`~..operators.band_index.BandStore` and
    follows the band-store contract of
    :class:`~..operators.band_index.BandIndex` (manifest, pmod layout,
    broadcast probe, exactly-once replay): here the manifest pins
    ``store_partitions``, ``num_hashes``, ``bands``, ``shingle_n`` and
    ``family``, the layout hashes ``band_hash``, and
    ``compact_bucket_store`` dedups and re-files the store at
    maintenance time. State is one parquet table of id-width bucket
    rows, O(docs x bands), never text.
    """
    from ..operators.band_index import BandStore
    from ..operators.dedup_minhash import _minhash_index

    index = _minhash_index(
        text_col, id_col, num_hashes, bands, shingle_n, family, threshold
    )
    return BandStore(bucket_store_path, index, store_partitions).sink(docs_sink_path)


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

    REPLAY-IDEMPOTENT: recounting a redelivered micro-batch would
    DOUBLE its mass, so rows land partitioned by ``_batch_id`` with
    dynamic partition overwrite (``sources.io.overwrite_partitions``) —
    a replayed batch id overwrites its own partition instead of
    appending next to it (the standard exactly-once-effect pattern for
    foreachBatch under at-least-once delivery). Readers are unaffected: psi_from_hist_state sums
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
    keeps the guard off.

    The pinned edges are read once per sink, at its first batch: the
    store contract makes them immutable (a re-bootstrap writes a new
    ``edges_path`` for a new sink). An empty batch counts no row and
    so writes nothing; there is no separate emptiness probe."""
    edges: list[float] = []

    def append_batch(batch_df: DataFrame, batch_id: int) -> None:
        import logging

        from ..quality.checks import hist_edges_drift, hist_state, pinned_edges
        from ..sources.io import overwrite_partitions

        if not edges:
            edges.extend(pinned_edges(
                batch_df.sparkSession.read.parquet(edges_path), "hist_state_sink"
            ))
        rows = hist_state(batch_df, ts_col, col, edges).withColumn(
            "_batch_id", F.lit(int(batch_id))
        )
        if edge_guard_threshold is not None:
            rows, _ = materialize_counted(rows)
        overwrite_partitions(rows, store_path, ["_batch_id"])
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
    store_partitions: int = 16,
):
    """foreachBatch factory: streaming EMBEDDING ingestion with
    near-dup dedup against everything already ingested — the
    hyperplane-LSH twin of :func:`near_dup_filter_sink`, completing
    the dedup-family matrix (the embedding family's batch delta loop
    is operators.dedup_embedding.embedding_dedup_delta; this is its
    streaming sink). Per micro-batch:

    1. WITHIN-batch near-dedup with the full verified pipeline
       (embedding_dedup's semantics — vectors are at hand, so
       candidates get the exact cosine check at ``threshold``, scored
       inside each band bucket from the normalized vectors the signing
       pass carried);
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
    3. survivors land in ``docs_sink_path`` and their band rows in
       ``band_store_path`` (band, sig, id — id kept for lineage), both
       tagged with the micro-batch's ``_batch_id``: the docs sink gains
       a ``_batch_id`` partition column.

    The store is a :class:`~..operators.band_index.BandStore`, like
    :func:`near_dup_filter_sink`'s: here the manifest pins
    ``store_partitions``, ``num_planes`` and ``num_bands``, the layout
    hashes ``sig``, and ``compact_bucket_store`` takes
    ``id_col="vec_id", key_cols=("band", "sig")``. DEGENERATE vectors
    (NULL, zero-norm, or with a NaN/NULL element) are DROPPED and
    counted in the batch's log line: they have no defined cosine and no
    bucket identity, so they carry no replay protection — a policy
    difference from the batch operators (which pass them through as
    survivors) that the streaming contract forces.

    ``num_planes`` must be an explicit int (embedding_band_state rejects
    'auto'/bool) and — because the decision here is bucket-level, NOT
    verified — it must be sized for the COLLISION RATE at the target
    corpus, not for bucket occupancy: expected false drops per vector
    ~= N_target * num_bands * 2^-p for near-orthogonal embeddings, so
    pick p >= log2(N_target * num_bands / eps) for a false-drop budget
    eps (e.g. p=24 holds eps ~0.05 at N=200k, bands=4). Larger p trades
    recall on merely-similar pairs (P[band] = (1 - theta/pi)^p) for
    precision — near-EXACT duplicates (theta ~ 0) keep colliding at any
    practical p, which is the regime a bucket-level streaming gate is
    for; the occupancy-sized default (12) suits the verified batch loop,
    not this sink, at large N."""
    from ..operators.band_index import _UNSIGNABLE, BandStore
    from ..operators.dedup_embedding import _cosine_index, _norm_sq

    # fail fast on a drifting plane family (bool subclasses int)
    if not isinstance(num_planes, int) or isinstance(num_planes, bool):
        raise ValueError(
            "embedding_near_dup_sink: num_planes must be an explicit int "
            "— the store pins one plane family across the stream's whole "
            "life; size it for the TARGET corpus"
        )
    index = _cosine_index(
        vec_col, id_col, num_planes, num_bands, dim, threshold
    )

    def admit(batch_df: DataFrame) -> DataFrame:
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
        # The count rides the batch's first full scan — the band-row
        # checkpoint, which reads it back — instead of a count() job.
        # CollectMetrics sits BELOW the keep-filter so it sees every
        # row, and the checkpoint is an unconditional FULL scan, so the
        # count is complete once it returns.
        return (
            scoped.observe(_UNSIGNABLE, F.count(F.when(bad, True)).alias("rows"))
            .filter(~bad)
            .drop("_nsq")
        )

    return BandStore(band_store_path, index, store_partitions).sink(
        docs_sink_path, admit
    )


def compact_bucket_store(
    spark: SparkSession,
    bucket_store_path: str,
    id_col: str = "doc_id",
    key_cols: tuple[str, ...] = ("band_id", "band_hash"),
) -> dict[str, int]:
    """Maintenance compaction for a streaming band-bucket store
    (:meth:`~..operators.band_index.BandStore.compact`): dedup bucket
    rows (one row per ``key_cols`` bucket — (band_id, band_hash) for
    ``near_dup_filter_sink``'s minhash store, ("band", "sig") with
    ``id_col="vec_id"`` for ``embedding_near_dup_sink``'s store —
    min-id owner kept for lineage) and rewrite them one file per layout
    partition. The store's manifest must be readable; it is checked
    before any work and travels whole with the compacted store.

    Run this between micro-batch cycles (single-writer contract and
    local-path rename swap, same as ``compact_parquet``) on whatever
    cadence keeps the per-partition file count bounded — the probe join
    is correct with duplicates and small files, just slower; compaction
    restores the O(distinct buckets) scan in ONE pass (dedup + re-file
    in the same job, no second rewrite). A redelivered micro-batch that
    compaction already folded lands nothing. Returns ``{"files_before",
    "files_after", "rows_before", "rows_after"}``.
    """
    from types import SimpleNamespace

    from ..operators.band_index import BandStore

    # compaction reads only the index's column names; the partition
    # count and family stay as the store's manifest records them
    columns = SimpleNamespace(id_col=id_col, keys=tuple(key_cols))
    return BandStore(bucket_store_path, columns, None).compact(spark)

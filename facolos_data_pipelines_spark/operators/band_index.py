"""One banded-LSH index behind the delta dedup operators
(``minhash_dedup_delta`` / ``embedding_dedup_delta``), their cross-pair
tails (``minhash_delta_pairs`` / ``minhash_cross_corpus_pairs`` /
``embedding_delta_pairs``) and the two streaming near-dup sinks
(``streaming.pipeline``). Each family supplies a :class:`BandIndex`
instance (``dedup_minhash._minhash_index``,
``dedup_embedding._cosine_index``); the skeletons here are written
once. :class:`BandStore` owns the sinks' persisted band rows: manifest,
probe, per-batch overwrite and compaction."""

from __future__ import annotations

import json
import logging
import os
from dataclasses import dataclass
from functools import partial
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..eager import materialize, materialize_observed
from .dedup_components import _drop_pair_losers


@dataclass(frozen=True)
class BandIndex:
    """A banded-LSH signing family plus its verify math.

    THE BAND-STORE CONTRACT (the persisted ``state`` of the delta
    operators and the :class:`BandStore` of the streaming sinks):

    - Rows are ``(id_col, *keys)``, one per document per band, as
      ``sign`` returns them: ``("band_id", "band_hash")`` for
      MinHash/Jaccard, ``("band", "sig")`` for hyperplane/cosine. Two
      documents are candidates iff they share a full key. Rows signed
      under a different ``family`` never match, so the family is part
      of the schema and never mixes within one store.
    - A sink store's manifest (``_NEAR_DUP_STORE_META.json`` in the
      store directory) records ``store_partitions`` (an int >= 1) plus
      every key of ``family``: MinHash pins ``num_hashes``, ``bands``,
      ``shingle_n`` and ``family``; cosine pins ``num_planes`` and
      ``num_bands``. A new store's manifest is written (atomically:
      a hidden temp file renamed into place) before its first batch
      writes anything, and a failed write raises. A reopened store must
      have a readable manifest whose family and ``store_partitions``
      equal the sink's; otherwise the sink raises before any probe or
      write. There is no adoption: a store with other parameters is
      re-indexed into a new store, never reinterpreted. A store
      directory holding only its manifest reads as empty.
    - Sign once: a batch is signed once and checkpointed; the in-batch
      sweep, the history probe and the store write all select from
      those rows. The corpus operators checkpoint id-width band rows
      (``sign``) and featurize only candidates. A sink's
      :meth:`BandStore.fold` checkpoints one row per document
      (``sign_docs``: its band keys as ``_bands`` plus the verify
      feature as ``_feat`` — the distinct shingle set, or the
      normalized vector), so its sweep reads features the signing
      pass already computed, and its band rows are a narrow
      ``inline`` of ``_bands``. Each signer is one parsed SQL
      expression per plan. A document's band rows do not depend on
      which frame selects them, so every consumer sees the same rows.
    - Probe: a sink store is partitioned by ``bucket_pmod =
      pmod(keys[1], store_partitions)`` and then by ``_batch_id``, and
      probed by broadcasting the batch's band rows against a map-only
      store scan on ``(bucket_pmod, *keys)``. Duplicate store rows are
      harmless to the probe; :meth:`BandStore.compact` dedups them.
    - Replay is exactly-once. A sink tags its docs rows and band rows
      with the micro-batch's ``_batch_id`` and writes each by dynamic
      partition overwrite of that batch's own partitions; the probe
      skips the batch's own id. A redelivered batch therefore sees the
      history its first delivery saw, keeps the same survivors and
      rewrites the same partitions, wherever the first delivery
      stopped: the docs sink and the store end equal to a clean run.
      Compaction files every row under ``_batch_id = -1``, an id no
      micro-batch carries: a redelivered batch that compaction already
      folded finds its own band rows there, keeps no survivor and
      rewrites nothing. A store or docs sink written before the
      ``_batch_id`` layout is compacted (the store) or moved aside (the
      docs) before a sink reopens it.

    ``verify(cand, left, right)`` scores cross ``(id_a, id_b)``
    candidates (``id_a`` from ``left``, ``id_b`` from ``right``),
    reading each side's documents id-pruned to the candidate set, and
    keeps pairs whose ``score`` clears ``threshold``. ``features``
    projects ``(id_col, feature)``; ``similarity`` compares two feature
    columns. ``verify_within(cand, df)`` is the required in-batch form,
    both sides from one frame: MinHash runs ``verified_near_dup_pairs``'
    explode path, cosine one join of the frame's normalized vectors.
    :meth:`within_pairs` is the in-batch sweep of a corpus, which
    returns pairs; :meth:`bucket_losers` is a sink's, which returns
    only the ids it drops, from ``sign_docs`` rows (see "Sign
    once")."""

    id_col: str
    keys: tuple[str, str]
    family: dict
    noun: str
    score: str
    threshold: float
    sign: Callable[[DataFrame], DataFrame]
    sign_docs: Callable[[DataFrame], DataFrame]
    features: Callable[[DataFrame], DataFrame]
    similarity: Callable[[Column, Column], Column]
    verify_within: Callable[[DataFrame, DataFrame], DataFrame]

    def verify(self, cand: DataFrame, left: DataFrame, right: DataFrame) -> DataFrame:
        def side(df: DataFrame, side_id: str) -> DataFrame:
            ids = cand.select(F.col(side_id).alias(self.id_col)).dropDuplicates()
            return self.features(df.join(ids, self.id_col, "left_semi")).toDF(
                side_id, f"_f_{side_id}"
            )

        sim = self.similarity(F.col("_f_id_a"), F.col("_f_id_b"))
        return (
            cand.join(side(left, "id_a"), "id_a")
            .join(side(right, "id_b"), "id_b")
            .select("id_a", "id_b", sim.alias(self.score))
            .filter(F.col(self.score) >= self.threshold)
        )

    def _keyed(
        self, bands: DataFrame, id_as: str, max_bucket_size: int | None
    ) -> DataFrame:
        out = bands.select(F.col(self.id_col).alias(id_as), *self.keys)
        if max_bucket_size is None:
            return out
        from .skew import drop_oversized_groups

        return drop_oversized_groups(out, list(self.keys), max_bucket_size)

    def _self_join(self, bands: DataFrame, max_bucket_size: int | None) -> DataFrame:
        """(id_a, id_b), id_a < id_b, for every two rows of ``bands``
        sharing a full key — the one in-batch candidate self-join. A
        pair sharing several bands repeats; callers de-duplicate."""
        a = self._keyed(bands, "id_a", max_bucket_size)
        return (
            a.join(a.withColumnRenamed("id_a", "id_b"), list(self.keys))
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )

    def within_pairs(
        self, df: DataFrame, max_bucket_size: int | None = None
    ) -> DataFrame:
        """(id_a, id_b, score), id_a < id_b — the verified near-dup
        pairs inside ``df``, the in-batch sweep of a corpus. ``df`` is
        signed once and its band rows, which both sides of the
        self-join read, are checkpointed; the checkpointed rows are
        id-width, and verify featurizes the candidates only."""
        bands = materialize(self.sign(df))
        cand = self._self_join(bands, max_bucket_size).dropDuplicates()
        return self.verify_within(cand, df)

    def bucket_losers(self, signed: DataFrame) -> DataFrame:
        """(id_col) — the ids the one-sweep min-id rule drops among the
        documents of ``signed`` (:attr:`sign_docs` rows): a document
        loses when a smaller-id document sharing one of its band keys
        scores ``>= threshold`` against it, on the features the signing
        pass carried. One shuffle: each band key gathers its members'
        ``(id, feature)`` and keeps the members that such a member
        beats. The output is at most one row per member per band key
        (an id repeats across bands) and no pair is ever built, so a
        bucket of n exact duplicates yields n - 1 rows, each found at
        its first smaller member. Every member carries its feature
        into each of its buckets: this is the sweep of a sink's
        micro-batch (:meth:`BandStore.fold`); a corpus takes
        :meth:`within_pairs`, whose checkpoint is id-width."""
        members = signed.select(
            F.struct(F.col(self.id_col).alias("i"), F.col("_feat").alias("f")).alias("_d"),
            F.inline("_bands"),
        )

        def beaten(a: Column) -> Column:
            return F.exists(
                "_m",
                lambda b: (b["i"] < a["i"])
                & (self.similarity(b["f"], a["f"]) >= self.threshold),
            )

        return (
            members.groupBy(*self.keys)
            .agg(F.collect_list("_d").alias("_m"))
            .filter(F.size("_m") > 1)
            .select(F.explode(F.filter("_m", beaten)).alias("_d"))
            .select(F.col("_d.i").alias(self.id_col))
        )

    def cross_pairs(
        self,
        lb: DataFrame,
        rb: DataFrame,
        left: DataFrame,
        right: DataFrame,
        max_bucket_size: int | None = None,
    ) -> DataFrame:
        """(left_id, right_id, score) — the verified pairs between two
        band frames (``lb`` signs ``left``, ``rb`` signs ``right``; ids
        may collide across sides). The candidate pairs, which verify
        reads three times, are materialized once (skipped under
        :func:`~..eager.plan_only_mode`)."""
        cand = materialize(
            self._keyed(lb, "id_a", max_bucket_size)
            .join(self._keyed(rb, "id_b", max_bucket_size), list(self.keys))
            .select("id_a", "id_b")
            .dropDuplicates()
        )
        return self.verify(cand, left, right).select(
            F.col("id_a").alias("left_id"), F.col("id_b").alias("right_id"), self.score
        )

    def delta_survivors(
        self,
        batch: DataFrame,
        state: DataFrame,
        corpus: DataFrame,
        max_bucket_size: int | None = None,
        batch_bands: DataFrame | None = None,
    ) -> DataFrame:
        """The ``batch`` rows with no verified near-dup in history
        (``state`` band rows, ``corpus`` documents) that are not beaten
        by a smaller-id batch row. ``batch_bands`` optionally supplies
        the batch's band rows already signed. Either way they are
        checkpointed once: the history probe and both sides of the
        in-batch self-join read them."""
        bb = materialize(batch_bands if batch_bands is not None else self.sign(batch))
        # The history probe and the in-batch self-join share ONE tagged
        # candidate pass, checkpointed once. id_a is always a batch id;
        # id_b is a corpus id on '_src'='h' rows and a batch id on
        # '_src'='i' rows, so the tag keeps colliding ids apart (and
        # dropDuplicates per branch).
        k = list(self.keys)
        hist = (
            self._keyed(bb, "id_a", max_bucket_size)
            .join(self._keyed(state, "id_b", max_bucket_size), k)
            .select("id_a", "id_b", F.lit("h").alias("_src"))
        )
        internal = self._self_join(bb, max_bucket_size).withColumn("_src", F.lit("i"))
        cand = materialize(
            hist.unionByName(internal).dropDuplicates(["_src", "id_a", "id_b"])
        )
        # Each branch verifies through its OWN join, consumed lazily by
        # the returned plan. A tagged-union verify (one join against the
        # union of both branches' sides) defeats per-branch broadcast
        # planning; round 13 measured it 1.8x slower at sf1 on 32 cores.
        # plans/delta_ab_sf1_cpus4.json times this shape against the
        # older four-action cycle.
        def branch(tag: str) -> DataFrame:
            return cand.filter(F.col("_src") == tag).select("id_a", "id_b")

        hist_losers = (
            self.verify(branch("h"), batch, corpus)
            .select(F.col("id_a").alias(self.id_col))
            .dropDuplicates()
        )
        idups = self.verify_within(branch("i"), batch)
        return _drop_pair_losers(batch, idups, self.id_col, transitive=False).join(
            hist_losers, self.id_col, "left_anti"
        )


_STORE_META_NAME = "_NEAR_DUP_STORE_META.json"
_LAYOUT = "bucket_pmod"
_BATCH = "_batch_id"
#: The ``_batch_id`` compaction files every row under; no micro-batch
#: carries it, so no redelivery overwrites compacted rows.
_COMPACTED = -1
#: The observed metric an ``admit`` step counts its dropped rows under.
_UNSIGNABLE = "unsignable_rows"
#: The observed metric the signing checkpoint counts the batch's rows under.
_BATCH_ROWS = "batch_rows"


def _is_partition_count(n) -> bool:
    # bool subclasses int: True would pin a one-partition layout by accident
    return isinstance(n, int) and not isinstance(n, bool) and n >= 1


def _refusal(
    path: str, problem: str, index=None, action: str = "probe or append"
) -> ValueError:
    """The one refusal for a store whose manifest does not admit the
    caller: its repair text names every key the manifest must hold —
    the signing-family keys of ``index``, or a pointer to them when the
    family is not known here."""
    if index is None:
        template = (
            '{"store_partitions": N} plus the signing-family keys its sink '
            "recorded"
        )
    else:
        keys = "".join(f', "{k}": <{k}>' for k in index.family)
        template = '{"store_partitions": N' + keys + "}"
    return ValueError(
        f"band store at {path!r} {problem}; refusing to {action}. Write its "
        f"meta file ({_STORE_META_NAME}) as {template}, with the values the "
        "store was created with, or re-index the accepted corpus into a new "
        "store"
    )


def _refuse_pre_batch_layout(spark: SparkSession, path: str, stray: str, repair: str):
    """Raise the repair ``ValueError`` when the ``stray`` glob under
    ``path`` lists anything: data files written before the ``_batch_id``
    layout sit outside ``_batch_id=`` directories, and one batch on top
    of them leaves a table Spark cannot read. One listing, no job."""
    from ..sources.io import _hadoop_fs

    fs, jglob = _hadoop_fs(spark, f"{path.rstrip('/')}/{stray}")
    found = fs.globStatus(jglob)
    if found is not None and len(found):
        raise ValueError(
            f"{path!r} holds data files outside {_BATCH}= partitions (written "
            f"before the {_BATCH} layout); refusing to append. {repair}"
        )


def _store_is_new(spark: SparkSession, path: str) -> bool:
    """True when the store holds neither a manifest nor band rows: it is
    absent, or a first batch whose manifest write failed left only the
    directory and perhaps a hidden temp file (hidden ``_``/``.`` names
    are not band rows)."""
    from ..sources.io import _hadoop_fs

    fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return True
    names = [s.getPath().getName() for s in fs.listStatus(jpath)]
    return _STORE_META_NAME not in names and all(
        n.startswith(("_", ".")) for n in names
    )


def _read_manifest(
    spark: SparkSession, path: str, index=None, action: str = "probe or append"
) -> dict:
    """The store's manifest. Raises the repair ``ValueError`` when it is
    absent, unreadable, not a JSON object, or its ``store_partitions``
    is not an int >= 1. Plain paths are read with Python file IO: Hadoop's
    LocalFileSystem would check the ``.crc`` it wrote beside the file,
    which a hand repair leaves stale. ``://`` paths go through the
    Hadoop FileSystem API."""
    from py4j.protocol import Py4JJavaError

    from ..sources.io import _hadoop_fs

    mp = f"{path.rstrip('/')}/{_STORE_META_NAME}"
    try:
        if "://" in path:
            fs, jpath = _hadoop_fs(spark, mp)
            if not fs.exists(jpath):
                raise FileNotFoundError(mp)
            stream = fs.open(jpath)
            try:
                payload = bytes(stream.readAllBytes())
            finally:
                stream.close()
        else:
            with open(mp, "rb") as fh:
                payload = fh.read()
        meta = json.loads(payload)
    except FileNotFoundError:
        raise _refusal(path, "has no meta file", index, action) from None
    except (OSError, ValueError, Py4JJavaError):
        # a checksum failure, an IO error or bad JSON alike
        meta = None
    if not isinstance(meta, dict):
        raise _refusal(
            path, "has a meta file that could not be read or parsed",
            index, action,
        )
    if not _is_partition_count(meta.get("store_partitions")):
        raise _refusal(
            path, "has a meta without a valid store_partitions (an int >= 1)",
            index, action,
        )
    return meta


def _write_manifest(spark: SparkSession, path: str, manifest: dict) -> None:
    """Write ``manifest`` into the store directory, creating it; raises
    on failure. The bytes go to a hidden temp file that is then renamed
    into place, so a failed write leaves no torn manifest and the
    directory still counts as a new store."""
    from ..sources.io import _hadoop_fs

    path = path.rstrip("/")
    payload = json.dumps(manifest).encode("utf-8")
    final, tmp = f"{path}/{_STORE_META_NAME}", f"{path}/.{_STORE_META_NAME}.tmp"
    if "://" in path:
        fs, jtmp = _hadoop_fs(spark, tmp)
        out = fs.create(jtmp, True)
        try:
            out.write(bytearray(payload))
        finally:
            out.close()
        _, jfinal = _hadoop_fs(spark, final)
        if not fs.rename(jtmp, jfinal):
            raise OSError(f"could not rename {tmp!r} to {final!r}")
        return
    os.makedirs(path, exist_ok=True)
    with open(tmp, "wb") as fh:
        fh.write(payload)
    os.replace(tmp, final)


@dataclass(frozen=True)
class BandStore:
    """The persisted band rows of ``index`` at ``path``, laid out in
    ``partitions`` pmod partitions — the store of a streaming near-dup
    sink, under the band-store contract of :class:`BandIndex`. It owns
    the manifest (:meth:`open`), the history read (:meth:`state`), the
    per-batch fold (:meth:`fold`, bound to a docs sink by :meth:`sink`)
    and compaction (:meth:`compact`). Compaction reads only
    ``index.id_col`` and ``index.keys`` and carries the store's own
    manifest, so a compaction-only handle (``compact_bucket_store``)
    passes an index with just those two and ``partitions=None``."""

    path: str
    index: BandIndex
    partitions: int | None

    def open(
        self,
        spark: SparkSession,
        exclude_batch: int | None = None,
        schema: T.StructType | None = None,
    ) -> DataFrame | None:
        """Write a new store's manifest before anything else touches the
        store and return None (no history to probe); for a reopened
        store, return :meth:`state`, which checks its manifest first."""
        if _store_is_new(spark, self.path):
            _write_manifest(
                spark, self.path,
                {"store_partitions": self.partitions, **self.index.family},
            )
            return None
        return self.state(spark, exclude_batch, schema)

    def state(
        self,
        spark: SparkSession,
        exclude_batch: int | None = None,
        schema: T.StructType | None = None,
    ) -> DataFrame:
        """The store's band rows ``(id_col, *keys)`` with their layout
        column ``bucket_pmod``. ``exclude_batch`` drops the rows one
        micro-batch wrote. ``schema`` (a frame of this index's band rows
        supplies it) skips the footer-inference job and reads a store
        holding only its manifest as empty.

        The manifest is checked first, so a store under another family
        or layout refuses (the repair ``ValueError``) before any join is
        planned: signatures under another family never match, and
        another N probes the wrong pmod space, so either would silently
        miss every historical bucket. A missing or unreadable manifest
        refuses too."""
        ix = self.index
        meta = _read_manifest(spark, self.path, ix)
        if not ix.family.keys() <= meta.keys():
            raise _refusal(self.path, f"has a meta without the pinned {ix.noun}", ix)
        recorded = {k: meta[k] for k in ix.family}
        if recorded != ix.family:
            stored = ", ".join(f"{k}={v!r}" for k, v in recorded.items())
            configured = ", ".join(f"{k}={v!r}" for k, v in ix.family.items())
            raise _refusal(
                self.path,
                f"was created with {stored} but the sink was configured with "
                f"{configured}; signatures under a different {ix.noun} never "
                "match",
                ix,
            )
        n = meta["store_partitions"]
        if n != self.partitions:
            raise _refusal(
                self.path,
                f"was created with store_partitions={n} but the sink was "
                f"configured with {self.partitions}; the layout is sticky, so "
                f"pass {n}",
                ix,
            )
        cols = [ix.id_col, *ix.keys, _LAYOUT]
        reader = spark.read
        if schema is not None:
            reader = reader.schema(
                T.StructType([schema[c] for c in cols]).add(_BATCH, "long")
            )
        rows = reader.parquet(self.path)
        if exclude_batch is not None:
            rows = rows.filter(~F.col(_BATCH).eqNullSafe(exclude_batch))
        return rows.select(*cols)

    def fold(
        self,
        batch_df: DataFrame,
        batch_id: int,
        docs_path: str,
        admit: Callable[[DataFrame], DataFrame] | None = None,
    ) -> None:
        """One micro-batch in four actions: sign the batch ONCE
        (:attr:`BandIndex.sign_docs`, checkpointed with each doc's band
        keys and verify feature); checkpoint the ids it drops — the
        losers of the in-batch sweep (:meth:`BandIndex.bucket_losers`,
        the batch operators' one-sweep min-id rule) and every doc
        sharing a band key with the rest of the store (broadcast
        probe); then write the rest to ``docs_path`` and their band
        rows to the store, each tagged with ``batch_id`` by dynamic
        partition overwrite, so a redelivery lands exactly once.

        The batch's row count is an observed metric of the signing
        checkpoint, so an empty batch writes nothing (a new store's
        manifest aside) without a probe job of its own. It counts
        batch rows, not signed ones: a batch whose rows all fail to
        sign (empty texts) still lands them.
        ``admit(batch_df) -> batch`` optionally drops rows the index
        cannot sign, counting them as the observed metric
        ``_UNSIGNABLE``; that count is read back from the same
        checkpoint and logged. A store or docs sink written before the
        ``_batch_id`` layout refuses before any write."""
        from ..sources.io import overwrite_partitions

        spark = batch_df.sparkSession
        _refuse_pre_batch_layout(
            spark, docs_path, "[!_.]*", "Point the sink at a new docs path.",
        )
        ix = self.index
        id_col, keys = ix.id_col, list(ix.keys)
        counted = batch_df.observe(_BATCH_ROWS, F.count(F.lit(1)).alias("rows"))
        batch = admit(counted) if admit else counted
        # ONE signing pass per micro-batch: the in-batch sweep, the
        # store probe and the store write all read these rows. Signing
        # is lazy, so the manifest is still written or checked before
        # any job runs.
        signed = ix.sign_docs(batch)

        def band_rows(docs: DataFrame) -> DataFrame:
            return docs.selectExpr(f"`{id_col}`", "inline(_bands)").withColumn(
                _LAYOUT, F.pmod(F.col(keys[1]), F.lit(self.partitions))
            )

        history = self.open(spark, batch_id, band_rows(signed).schema)
        # after open, so a refused manifest is reported first
        _refuse_pre_batch_layout(
            spark, self.path, f"{_LAYOUT}=*/[!_.]*",
            "Migrate the store with one compact_bucket_store.",
        )
        signed, (rows, *unsignable) = materialize_observed(
            signed, _BATCH_ROWS, *([_UNSIGNABLE] if admit else [])
        )
        if not rows:
            return
        if any(unsignable):
            logging.getLogger(__name__).info(
                "batch %s: dropped %d row(s) with no bucket identity under "
                "the %s — not replay-protectable",
                batch_id, unsignable[0], ix.noun,
            )
        bands = band_rows(signed)
        drop = ix.bucket_losers(signed)
        if history is not None:
            # Broadcast the (small) batch side; the store is scanned
            # map-side only — no store shuffle, and the partition-column
            # equi-join key lets dynamic partition pruning skip store
            # partitions the batch doesn't touch. Probing the WHOLE
            # batch's band rows (not just in-batch survivors) returns a
            # superset of hit ids whose extras are exactly the in-batch
            # losers — dropped anyway — so the survivor set is unchanged.
            probe_keys = [_LAYOUT, *keys]
            drop = drop.unionByName(
                history.select(*probe_keys)
                .join(
                    F.broadcast(
                        bands.select(*probe_keys, F.col(id_col).alias("_probe_id"))
                    ),
                    probe_keys,
                )
                .select(F.col("_probe_id").alias(id_col))
            )
        # The drop set is a subset of the batch's ids (repeats allowed):
        # both writes anti-join its broadcast, so neither recomputes the
        # sweep and no survivor frame is checkpointed.
        drop, _ = materialize_observed(drop)
        tag = F.lit(batch_id).cast("long")

        def kept(df: DataFrame) -> DataFrame:
            return df.join(F.broadcast(drop), id_col, "left_anti").withColumn(_BATCH, tag)

        overwrite_partitions(kept(batch), docs_path, [_BATCH])
        overwrite_partitions(
            kept(bands.select(*keys, id_col, _LAYOUT)), self.path, [_LAYOUT, _BATCH]
        )

    def sink(self, docs_path: str, admit=None):
        """The foreachBatch callable ``(batch_df, batch_id)``: :meth:`fold`
        into ``docs_path``. Refuses a ``partitions`` that is not an int
        >= 1 here, when the sink is built."""
        if not _is_partition_count(self.partitions):
            raise ValueError(
                f"store_partitions must be an int >= 1, got {self.partitions!r}"
            )
        return partial(self.fold, docs_path=docs_path, admit=admit)

    def compact(self, spark: SparkSession) -> dict[str, int]:
        """Dedup the store's band rows (one row per ``(bucket_pmod,
        *keys)`` bucket, min-id owner kept for lineage) and rewrite them
        one file per ``bucket_pmod`` partition under ``_batch_id = -1``.
        The manifest must be readable; it is checked before any work
        and travels whole with the compacted store. A store written
        before the ``_batch_id`` layout comes out in it.

        Run it between micro-batch cycles (single-writer contract and
        local-path rename swap, same as ``compact_parquet``). Returns
        ``{"files_before", "files_after", "rows_before",
        "rows_after"}``."""
        from ..sources.io import _parquet_files, _parquet_rows, _swap_compacted

        path = self.path.rstrip("/")
        manifest = _read_manifest(spark, path, action="compact")
        id_col, keys = self.index.id_col, list(self.index.keys)

        def rewrite(files: list[str], tmp: str) -> tuple[int, int]:
            deduped = (
                spark.read.parquet(path)
                .groupBy(_LAYOUT, *keys)
                .agg(F.min(id_col).alias(id_col))
                .withColumn(_BATCH, F.lit(_COMPACTED).cast("long"))
                .repartition(_LAYOUT)
            )
            deduped.write.mode("overwrite").partitionBy(_LAYOUT, _BATCH).parquet(tmp)
            _write_manifest(spark, tmp, manifest)
            return _parquet_rows(files), _parquet_rows(_parquet_files(tmp))

        before, after, (rows_before, rows_after) = _swap_compacted(
            path, "compact_bucket_store", rewrite
        )
        return {
            "files_before": before,
            "files_after": after,
            "rows_before": rows_before,
            "rows_after": rows_after,
        }

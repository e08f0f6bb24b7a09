"""One banded-LSH index behind the delta dedup operators
(``minhash_dedup_delta`` / ``embedding_dedup_delta``), their cross-pair
tails (``minhash_delta_pairs`` / ``minhash_cross_corpus_pairs`` /
``embedding_delta_pairs``) and the two streaming near-dup sinks
(``streaming.pipeline``). Each family supplies a :class:`BandIndex`
instance (``dedup_minhash._minhash_index``,
``dedup_embedding._cosine_index``); the skeletons here are written
once."""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..eager import materialize
from .dedup_components import _drop_pair_losers


@dataclass(frozen=True)
class BandIndex:
    """A banded-LSH signing family plus its verify math.

    THE BAND-STORE CONTRACT (the persisted ``state`` of the delta
    operators and the stores of the streaming sinks):

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
      ``num_bands``. A new store's manifest is written before its first
      batch appends anything, and a failed write raises. A reopened
      store must have a readable manifest whose family and
      ``store_partitions`` equal the sink's; otherwise the sink raises
      before any probe or append. There is no adoption: a store with
      other parameters is re-indexed into a new store, never
      reinterpreted. A store directory holding only its manifest reads
      as empty.
    - Sign once: a batch is signed once and its band rows are
      materialized (persisted in the delta operators, checkpointed in
      the sinks); the in-batch sweep, the history probe and the store
      append all select from them. A document's band rows do not depend
      on which frame selects them, so every consumer sees the same rows.
    - Probe: a sink store is written partitioned by ``bucket_pmod =
      pmod(keys[1], store_partitions)`` and probed by broadcasting the
      batch's band rows against a map-only store scan on ``(bucket_pmod,
      *keys)``. Duplicate store rows are harmless to the probe;
      ``compact_bucket_store`` dedups them.
    - Replay: a sink appends the survivors first, then their band rows.
      A redelivered batch whose earlier delivery completed both appends
      finds its own band rows in the store and drops every document. A
      crash between the two appends leaves the documents landed but
      unindexed, and the redelivery appends them again: at-least-once
      on the documents side for that one batch. Recovery is
      ``compact_bucket_store`` plus a doc-id dedup pass over the
      documents sink.

    ``verify(cand, left, right)`` scores ``(id_a, id_b)`` candidates,
    reading each side's documents id-pruned to the candidate set, and
    keeps pairs whose ``score`` clears ``threshold``. ``features``
    projects ``(id_col, feature)``; ``similarity`` compares two feature
    columns. ``verify_within`` overrides the in-batch form
    (``right=None``, both sides from one frame) — MinHash routes it
    through ``verified_near_dup_pairs``' explode path."""

    id_col: str
    keys: tuple[str, str]
    family: dict
    noun: str
    score: str
    threshold: float
    sign: Callable[[DataFrame], DataFrame]
    features: Callable[[DataFrame], DataFrame]
    similarity: Callable[[Column, Column], Column]
    verify_within: Callable[[DataFrame, DataFrame], DataFrame] | None = None

    def verify(
        self, cand: DataFrame, left: DataFrame, right: DataFrame | None = None
    ) -> DataFrame:
        if right is None and self.verify_within is not None:
            return self.verify_within(cand, left)
        right = left if right is None else right

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
        the batch's band rows already signed."""
        bb = batch_bands if batch_bands is not None else self.sign(batch)
        bb.persist()
        try:
            # The history probe and the in-batch self-join share ONE
            # tagged candidate pass, checkpointed once. id_a is always a
            # batch id; id_b is a corpus id on '_src'='h' rows and a
            # batch id on '_src'='i' rows, so the tag keeps colliding
            # ids apart (and dropDuplicates per branch).
            k = list(self.keys)
            lb = self._keyed(bb, "id_a", max_bucket_size)
            rb = self._keyed(state, "id_b", max_bucket_size)
            hist = lb.join(rb, k).select("id_a", "id_b", F.lit("h").alias("_src"))
            internal = (
                lb.join(lb.withColumnRenamed("id_a", "id_b"), k)
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b", F.lit("i").alias("_src"))
            )
            cand = materialize(
                hist.unionByName(internal).dropDuplicates(["_src", "id_a", "id_b"])
            )
            # Each branch verifies through its OWN join, consumed lazily
            # by the returned plan. A tagged-union verify (one join
            # against the union of both branches' sides) defeats
            # per-branch broadcast planning; round 13 measured it 1.8x
            # slower at sf1 on 32 cores. plans/delta_ab_sf1_cpus4.json
            # times this shape against the older four-action cycle.
            def branch(tag: str) -> DataFrame:
                return cand.filter(F.col("_src") == tag).select("id_a", "id_b")

            hist_losers = (
                self.verify(branch("h"), batch, corpus)
                .select(F.col("id_a").alias(self.id_col))
                .dropDuplicates()
            )
            idups = self.verify(branch("i"), batch)
            return _drop_pair_losers(
                batch, idups, self.id_col, transitive=False
            ).join(hist_losers, self.id_col, "left_anti")
        finally:
            bb.unpersist()

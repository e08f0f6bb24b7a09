"""Embedding-cosine near-dup: banded hyperplane LSH blocking with the
certified expr verify join, exact tiled-GEMM opt-in, and SemDeDup
cluster-then-dedup. Split from dedup.py; operators.dedup re-exports
the surface."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..eager import materialize_counted
from ..session import local_frame
from .band_index import BandIndex
from .dedup_components import _drop_pair_losers

# ---------------------------------------------------------------------------
# Embedding cosine near-dup
# ---------------------------------------------------------------------------

def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine of two array<float|double> columns via zip_with/aggregate —
    JVM-side, no UDF.

    Zero-norm (all-zero) vectors have no defined cosine; this returns
    NULL for them rather than NaN (0/0) — NaN compares GREATER than
    every double in Spark's ordering and would float to the top of any
    similarity ranking, while NULL drops out of ``>= threshold``
    filters and sorts last under the default desc ordering."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))
    denom = na * nb
    return F.when(denom > 0, dot / denom)


def _exact_pairs_gemm(
    scaled: DataFrame,
    id_col: str,
    threshold: float,
    tile_rows: int = 2048,
) -> DataFrame:
    """Exact all-pairs cosine via a distributed tiled matrix product.

    Vectors are hashed into ~``tile_rows``-sized tiles; tile i of the
    A-replica is shuffled to every grid cell (i, j>=i) and tile j of
    the B-replica to every cell (i<=j, j), so each unordered tile pair
    meets exactly once. Per cell, one numpy GEMM (Va @ Vb.T) scores the
    whole block — Arrow-batched, no per-pair expression tree, no
    driver collect, no broadcast: the grid join IS how exact all-pairs
    is run distributed when neither side fits one machine. Same-tile
    cells emit id_a < id_b only; cross-tile cells emit each pair once,
    min id first. Work and shuffle stay O(n^2 / tile_rows) rows — the
    irreducible cost of EXACT all-pairs; the LSH path above is the
    100 TB default for a reason.
    """
    import pandas as pd

    # both replicas read the checkpoint, and its row count sizes the grid
    scaled, n = materialize_counted(scaled)
    num_tiles = max(1, -(-n // tile_rows))
    tiled = scaled.select(
        F.col(id_col),
        "_sv",
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_tiles)).cast("int").alias("_tile"),
    )
    a = tiled.select(
        F.col(id_col).alias("id_a"),
        F.col("_sv").alias("va"),
        F.col("_tile").alias("i"),
        F.explode(F.sequence(F.col("_tile"), F.lit(num_tiles - 1))).alias("j"),
    )
    b = tiled.select(
        F.col(id_col).alias("id_b"),
        F.col("_sv").alias("vb"),
        F.explode(F.sequence(F.lit(0), F.col("_tile"))).alias("i"),
        F.col("_tile").alias("j"),
    )
    id_type = dict(scaled.dtypes)[id_col]
    out_schema = f"id_a {id_type}, id_b {id_type}, cosine double"

    def gemm(key, left: "pd.DataFrame", right: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        if left.empty or right.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        va = np.vstack(left["va"].to_numpy())
        vb = np.vstack(right["vb"].to_numpy())
        ia = left["id_a"].to_numpy()
        ib = right["id_b"].to_numpy()
        m = va @ vb.T
        mask = m >= threshold
        if key[0] == key[1]:
            mask &= ia[:, None] < ib[None, :]
        r, c = np.nonzero(mask)
        lo = np.minimum(ia[r], ib[c])
        hi = np.maximum(ia[r], ib[c])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": m[r, c]})

    return (
        a.groupBy("i", "j")
        .cogroup(b.groupBy("i", "j"))
        .applyInPandas(gemm, out_schema)
    )


def _auto_num_planes(n_vectors: int, target_occupancy: int = 64) -> int:
    """Plane count that keeps expected bucket occupancy ~constant:
    ceil(log2(n / occupancy)), clamped to [6, 24]. Hyperplane
    signatures live in a FIXED 2^planes bucket space per band, so at a
    fixed plane count occupancy grows linearly with the corpus and
    within-bucket candidate pairs grow QUADRATICALLY — the sf10
    measurement run demonstrated this empirically (6 planes over 2M
    vectors = ~31k vectors/bucket = ~10^11 candidate pairs, death by
    shuffle spill). Scaling planes with log2(n) pins occupancy, making
    the candidate count ~ bands * n * occupancy / 2 — linear in n."""
    import math

    if n_vectors <= 0:
        return 6
    raw = math.ceil(math.log2(max(n_vectors / max(target_occupancy, 1), 1.0)))
    return max(6, min(24, raw))


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_planes: int | str = "auto",
    num_bands: int = 4,
    dim: int | None = None,
    max_bucket_size: int | None = None,
    auto_bucket_occupancy: int = 64,
) -> DataFrame:
    """Embedding near-dup pairs above a cosine threshold, blocked by
    banded random-hyperplane LSH — the DEFAULT and the 100 TB path.

    ``num_planes="auto"`` (default) sizes the signature from the corpus
    itself (one column-pruned count): planes = ceil(log2(n /
    ``auto_bucket_occupancy``)), clamped to [6, 24] — see
    :func:`_auto_num_planes` for why a FIXED plane count degrades
    quadratically as the corpus grows (the bucket space doesn't grow
    with it). Tradeoff to know: per-band true-pair retention is
    (1 - theta/pi)^planes, so longer signatures lower recall at a
    fixed band count — recall-critical jobs should raise ``num_bands``
    (OR-amplification) alongside. The certified oracle queries pin
    ``num_planes=6`` explicitly, so their results are reproducible at
    any sf; at the oracle's sf0.01 corpus auto resolves to the same 6
    (property-tested, and the default path is tested pair-set-equal to
    the pinned 6x4 config there).

    Each band hashes the vector against ``num_planes`` independent
    hyperplanes (plane family is deterministic by index, see
    similarity._seeded_plane — any engine reproduces it, so the DuckDB
    oracle certifies this exact plan); two vectors are candidates iff
    they share ANY band's full signature (OR-amplification: candidate
    prob = 1-(1-(1-θ/π)^planes)^bands — at cosine 0.95 with 6x4 the
    retention is ~0.95 while unrelated pairs are pruned ~50x). The
    self-join is bucket-local on (band, sig) — never an O(n^2)
    cartesian product — and only (id, band, sig) rows shuffle;
    normalized vectors are joined back by id and the verify dot
    product folds in codegen, proportional to candidates, not corpus².

    ``num_planes=0`` is an explicit opt-in that compares ALL pairs
    (exact) as a distributed tiled numpy matrix product over an (i, j)
    tile grid — see :func:`_exact_pairs_gemm`. The cost is inherently
    quadratic in the corpus — a scale-killer past ~10^5 vectors.
    ``max_bucket_size`` drops degenerate buckets (e.g. an all-near-zero
    signature hot spot) the same way lsh_candidate_pairs caps text LSH
    boilerplate buckets. ``dim`` is the embedding width for the plane
    literals (defaults to 64, the synthetic table's width); a vector
    whose width differs raises at run time — it would otherwise
    silently zero every signature and collapse blocking into one
    bucket (see hyperplane_signature).

    Zero-norm (all-zero) vectors have no defined cosine and are
    filtered out up front — they never appear in any pair.

    Vectors are L2-normalized ONCE per row below the join, so the
    per-pair work is a single dot product — computing full cosine
    (dot + both norms) per pair was measured 3x slower, and the norm
    work grows with the pair count instead of the corpus size.
    """
    if num_planes == "auto":
        num_planes = _auto_num_planes(
            df.select(id_col).count(), auto_bucket_occupancy
        )
    elif isinstance(num_planes, str):
        raise ValueError(
            f"embedding_near_dup_pairs: num_planes must be an int or 'auto', "
            f"got {num_planes!r}"
        )
    if num_planes <= 0:
        return _exact_pairs_gemm(
            _normalized_vectors(df, vec_col, id_col), id_col, threshold
        )
    # Banded blocking on (id, band, sig) rows signed from the RAW vector
    # (sign is scale-invariant; the oracle mirrors raw too), checkpointed
    # once inside within_pairs: the self-join reads them twice (three
    # times with the bucket cap) and the signature computation
    # (num_bands x num_planes dot products per row) is the expensive
    # subtree. The checkpointed rows are id-width, never vectors.
    return _cosine_index(
        vec_col, id_col, num_planes, num_bands, dim, threshold
    ).within_pairs(df, max_bucket_size=max_bucket_size)


def embedding_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_planes: int | str = "auto",
    num_bands: int = 4,
    dim: int | None = None,
    transitive: bool = False,
    score_col: str | None = None,
    descending: bool = True,
    max_bucket_size: int | None = None,
    auto_bucket_occupancy: int = 64,
) -> DataFrame:
    """Drop the higher id of every near-duplicate embedding pair (or,
    with ``transitive=True``, keep one vector per single-link
    component; with ``score_col``, the best-scoring member of each
    component). Banded-LSH blocked by default with the corpus-sized
    ``num_planes='auto'`` (see embedding_near_dup_pairs);
    ``num_planes=0`` opts into exact all-pairs for small frames. The
    scale knobs (``max_bucket_size``, ``auto_bucket_occupancy``) pass
    through to the pair search, so the wrapper never has to be
    abandoned to reach them."""
    pairs = embedding_near_dup_pairs(
        df, vec_col, id_col, threshold, num_planes, num_bands, dim,
        max_bucket_size=max_bucket_size,
        auto_bucket_occupancy=auto_bucket_occupancy,
    )
    return _drop_pair_losers(
        df, pairs, id_col, transitive, score_col=score_col, descending=descending
    )


# ---------------------------------------------------------------------------
# SemDeDup (cluster-then-dedup over embeddings)
# ---------------------------------------------------------------------------

def semantic_dedup_pairs(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup-style near-dup pairs: assign every vector to its
    nearest centroid, then compare cosines ONLY within each cluster
    (Abbas et al. 2023, "SemDeDup" — k-means partitions the corpus so
    the quadratic pair search runs per-cluster, never corpus-wide).

    Complements :func:`embedding_near_dup_pairs`: hyperplane-LSH blocks
    by random projections (recall is probabilistic per pair), while
    SemDeDup blocks by data-derived clusters (recall is exact for
    pairs that land in the same cell, and the cells align with the
    corpus's own density structure). Use LSH when no trained centroids
    exist; use this when a k-means codebook is already part of the
    pipeline (e.g. the IVF index's).

    Plan: nearest-centroid assignment is one narrow codegen pass
    (centroid literals — see similarity.assign_nearest_centroid);
    vectors L2-normalize once per row; each cluster's pairs compute
    bucket-locally after ONE shuffle on the cluster key. Cost is
    sum(|cluster|^2), bounded by ``max_cluster_size`` (oversized cells
    dropped with a warning — at 100 TB raise k instead so cells stay
    ~corpus/k; k should scale WITH the corpus, which is also what keeps
    the wall-clock linear — see SCALE.md §6a). Zero-norm vectors have
    no cosine and are excluded up front.

    Each cluster is scored with one chunked numpy matrix product inside
    ``applyInPandas`` — the cluster IS the tile, Arrow-batched, memory
    bounded at 2048 x |cluster| per chunk.
    """
    import pandas as pd

    from .similarity import assign_nearest_centroid
    from .skew import drop_oversized_groups

    assigned = assign_nearest_centroid(df, centroids, id_col, vec_col).select(
        id_col, "cluster_id"
    )
    scaled = _normalized_vectors(df, vec_col, id_col).join(assigned, id_col)
    if max_cluster_size is not None:
        scaled = drop_oversized_groups(scaled, ["cluster_id"], max_cluster_size)
    id_type = dict(scaled.dtypes)[id_col]
    cl_type = dict(scaled.dtypes)["cluster_id"]
    out_schema = (
        f"cluster_id {cl_type}, id_a {id_type}, id_b {id_type}, cosine double"
    )

    def cluster_gemm(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        v = np.vstack(pdf["_sv"].to_numpy())
        ids = pdf[id_col].to_numpy()
        cl = pdf["cluster_id"].iloc[0]
        frames = []
        for s in range(0, len(ids), 2048):
            m = v[s : s + 2048] @ v.T
            mask = (m >= threshold) & (ids[s : s + 2048, None] < ids[None, :])
            r, c = np.nonzero(mask)
            if len(r):
                frames.append(
                    pd.DataFrame(
                        {
                            "cluster_id": cl,
                            "id_a": ids[s + r],
                            "id_b": ids[c],
                            "cosine": m[r, c],
                        }
                    )
                )
        if not frames:
            return pd.DataFrame(
                {"cluster_id": [], "id_a": [], "id_b": [], "cosine": []}
            )
        return pd.concat(frames, ignore_index=True)

    return scaled.groupBy("cluster_id").applyInPandas(cluster_gemm, out_schema)


def semantic_dedup(
    df: DataFrame,
    centroids: DataFrame | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    k: int | None = None,
    transitive: bool = False,
    max_cluster_size: int | None = 100_000,
    score_col: str | None = None,
    descending: bool = True,
    target_cluster_size: int = 1024,
) -> DataFrame:
    """Keep one vector per semantic near-dup group: SemDeDup pair
    search (see :func:`semantic_dedup_pairs`) then drop the higher id
    of each pair — or one survivor per single-link component with
    ``transitive=True``, or the best-``score_col`` member per
    component (the SemDeDup paper keeps the member farthest from the
    centroid; pass that distance as the score). When no ``centroids`` frame is supplied, a
    codebook is trained in-line via similarity.ivf_train (the
    distributed k-means above its row threshold).

    Two guards keep the per-cluster pair search (cost
    sum(|cluster|^2)) from going quadratic as the corpus grows:

    - ``k=None`` (default) sizes the trained codebook to the corpus —
      k = clamp(ceil(n / target_cluster_size), 8, 65536) — so average
      cluster size stays ~``target_cluster_size`` regardless of scale
      (a FIXED k means cluster size grows with the corpus and the
      search degrades toward all-pairs; SCALE.md §6a measured exactly
      that at sf1 with k=8). An explicit ``k`` overrides.
    - ``max_cluster_size`` now DEFAULTS to 100k: a cell that a lagging
      or skewed codebook lets grow past it is dropped with a warning
      (conservative direction — its members all survive dedup) instead
      of silently costing |cell|^2. ``None`` removes the cap.
    """
    if centroids is None:
        from math import ceil

        from .similarity import ivf_train

        if k is None:
            n = df.count()
            k = max(8, min(65_536, ceil(n / max(1, target_cluster_size))))
        codebook = ivf_train(df, k=k, vec_col=vec_col)
        centroids = local_frame(
            df.sparkSession,
            [(i, [float(x) for x in c]) for i, c in enumerate(codebook)],
            "cluster_id int, centroid array<double>",
        )
    pairs = semantic_dedup_pairs(
        df, centroids, vec_col, id_col, threshold, max_cluster_size
    )
    return _drop_pair_losers(
        df, pairs, id_col, transitive, score_col=score_col, descending=descending
    )




# ---------------------------------------------------------------------------
# Incremental embedding dedup against persisted band state (round 9) —
# the embedding sibling of dedup_minhash.minhash_dedup_delta: history's
# LSH index rows live on disk; each cycle signs only its batch.
# ---------------------------------------------------------------------------


def _norm_sq(v: Column) -> Column:
    """Squared L2 norm of an array column as double — NULL when the
    array or any element is NULL, NaN when an element is NaN."""
    return F.aggregate(
        v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )


def _dot(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns, folded in codegen — the
    cosine of two L2-normalized vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _cosine_index(
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 12,
    num_bands: int = 4,
    dim: int | None = None,
    threshold: float = 0.95,
) -> BandIndex:
    """The hyperplane/cosine :class:`~.band_index.BandIndex`: signs with
    :func:`embedding_band_state`, verifies with the certified expr dot
    fold over L2-normalized vectors. The cross form id-prunes each side
    to the candidate set before the vector-width verify join, so the
    shuffle carries O(candidates * dim) bytes, not O(corpus * dim); the
    in-batch form joins the frame's normalized vectors to both sides
    whole (:func:`_verify_within`)."""
    return BandIndex(
        id_col=id_col,
        keys=("band", "sig"),
        family={"num_planes": num_planes, "num_bands": num_bands},
        noun="plane family",
        score="cosine",
        threshold=threshold,
        sign=lambda df: embedding_band_state(
            df, vec_col, id_col, num_planes, num_bands, dim
        ),
        sign_docs=lambda df: _cosine_signed_docs(
            df, vec_col, id_col, num_planes, num_bands, dim
        ),
        features=lambda df: _normalized_vectors(df, vec_col, id_col),
        similarity=_dot,
        verify_within=lambda cand, df: _verify_within(
            cand, df, vec_col, id_col, threshold
        ),
    )


def _verify_within(
    cand: DataFrame, df: DataFrame, vec_col: str, id_col: str, threshold: float
) -> DataFrame:
    """(id_a, id_b, cosine >= threshold) for in-batch candidates: the
    frame's L2-normalized vectors joined to both sides and the dot
    product folded in codegen."""
    scaled = _normalized_vectors(df, vec_col, id_col)
    va = scaled.select(F.col(id_col).alias("id_a"), F.col("_sv").alias("va"))
    vb = scaled.select(F.col(id_col).alias("id_b"), F.col("_sv").alias("vb"))
    dot = _dot(F.col("va"), F.col("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", dot.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def _check_plane_count(num_planes) -> None:
    # bool subclasses int: True would silently build a degenerate
    # one-plane family, exactly the config drift this guard exists for
    if not isinstance(num_planes, int) or isinstance(num_planes, bool):
        raise ValueError(
            "embedding_band_state: num_planes must be an explicit int — "
            "'auto' would let the plane family drift between cycles, and "
            "signatures under different plane counts never match. Size it "
            "for the TARGET corpus (ceil(log2(N_target/occupancy)))."
        )


def _nonzero_vectors(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """(id, vec, _nsq) for the rows whose squared norm is > 0 (a NULL,
    zero or NaN-poisoned norm has no defined cosine)."""
    return df.select(
        F.col(id_col), F.col(vec_col), _norm_sq(F.col(vec_col)).alias("_nsq")
    ).filter(F.col("_nsq") > 0)


def _unit_sql(vec_col: str) -> str:
    """SQL text of the L2-normalized double vector of ``vec_col``,
    over :func:`_nonzero_vectors`' ``_nsq``."""
    return f"transform(`{vec_col}`, _x -> CAST(_x AS DOUBLE) * (1.0D / sqrt(_nsq)))"


def _normalized_vectors(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """(id, _sv): L2-normalized double vectors, zero-norm rows dropped
    (no defined cosine) — the shared verify-side projection."""
    return _nonzero_vectors(df, vec_col, id_col).selectExpr(
        f"`{id_col}`", f"{_unit_sql(vec_col)} AS _sv"
    )


def _cosine_signed_docs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    num_planes: int,
    num_bands: int,
    dim: int | None,
) -> DataFrame:
    """(id, _bands, _feat) — one row per vector with a norm: its
    :func:`embedding_band_state` keys as an array and its normalized
    vector (the ``_sv`` verify reads), from one narrow projection."""
    from .similarity_core import _banded_signatures_sql

    _check_plane_count(num_planes)
    sigs = _banded_signatures_sql(f"`{vec_col}`", num_planes, num_bands, dim or 64)
    return _nonzero_vectors(df, vec_col, id_col).selectExpr(
        f"`{id_col}`", f"{sigs} AS _bands", f"{_unit_sql(vec_col)} AS _feat"
    )


def embedding_band_state(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 12,
    num_bands: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """The persistable hyperplane-LSH index rows for an embedding
    corpus — (id, band, sig), one row per vector per band — the state
    table of :func:`embedding_dedup_delta`'s ingestion loop.

    ``num_planes`` must be an explicit int here, never ``'auto'``: the
    store contract pins the plane family across cycles (signatures
    under different plane counts never match), so size it for the
    corpus you EXPECT to accumulate — ceil(log2(N_target/occupancy)),
    :func:`_auto_num_planes` applied to the target, not the bootstrap —
    and re-index (one pass over the accepted corpus) if the corpus
    outgrows it; occupancy, and with it per-cycle probe cost, degrades
    gradually, not abruptly. Zero-norm vectors are excluded (no defined
    cosine — same rule as the batch operators). At cluster scale write
    the state bucketed on ``("band", "sig")`` — the probe join's keys,
    in join order, so the bucketed scan's HashPartitioning satisfies
    the join's required distribution and each cycle's probe join
    shuffles only the batch's band rows (plan-asserted in
    tests/test_bucketed_state.py)."""
    _check_plane_count(num_planes)
    from .similarity import banded_signatures

    return banded_signatures(
        df.filter(_norm_sq(F.col(vec_col)) > 0),
        vec_col, id_col, num_planes, num_bands, dim, id_col,
    )


def embedding_delta_pairs(
    batch: DataFrame,
    state: DataFrame,
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_planes: int = 12,
    num_bands: int = 4,
    dim: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs between a NEW embedding batch and the PERSISTED
    corpus state — (left_id: batch vector, right_id: historical vector,
    cosine >= threshold) — without recomputing a single historical
    signature.

    Per-cycle cost: O(batch) signature compute, one (band, sig)-keyed
    join of the batch's band rows against the state table (bucketed on
    ``("band", "sig")`` at cluster scale — only the batch side
    shuffles), then cosine
    verification proportional to CROSS candidates: the historical
    vectors are read back id-pruned from ``corpus`` (<<1% semi-join —
    keep the corpus bucketed on ``id_col``). Verification is the
    certified expr dot fold; a candidate flood past ~10^8 pairs wants
    the tiled-GEMM pattern of :func:`_exact_pairs_gemm` instead — at
    that point the real problem is plane count, not verify speed (see
    :func:`embedding_band_state` on re-indexing).

    ``num_planes``/``num_bands``/``dim`` must match
    the state's pinned store contract; the state rows are
    :func:`embedding_band_state` rows."""
    ix = _cosine_index(
        vec_col, id_col, num_planes, num_bands, dim, threshold
    )
    return ix.cross_pairs(ix.sign(batch), state, batch, corpus, max_bucket_size)


def embedding_dedup_delta(
    batch: DataFrame,
    state: DataFrame,
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_planes: int = 12,
    num_bands: int = 4,
    dim: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """One cycle of the incremental embedding dedup loop: the batch
    vectors that near-duplicate NO historical vector (persisted state,
    history-first — ids never decide against history) and are not
    beaten by a smaller-id batch vector in the whole-batch internal
    sweep — the same two loser rules, same order-free semantics, as
    :func:`dedup_minhash.minhash_dedup_delta`, over cosine instead of
    Jaccard. The batch is signed ONCE (checkpointed band rows feed both
    the history probe and the internal self-join); append
    :func:`embedding_band_state` of the survivors to complete the cycle
    (``num_bands`` rows per non-zero-norm survivor). Zero-norm vectors
    have no cosine to anyone and pass through as survivors."""
    return _cosine_index(
        vec_col, id_col, num_planes, num_bands, dim, threshold
    ).delta_survivors(batch, state, corpus, max_bucket_size)

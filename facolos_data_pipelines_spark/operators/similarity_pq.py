"""Product quantization and PCA: PQ codebook training / encoding / ADC
top-k, IVF-PQ composition, PCA projection, and the embedding outlier
gate. Split from similarity.py; operators.similarity re-exports the
surface."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .similarity_core import _fmt_double, dot_literal, lit_double_array
from .similarity_ivf import MAX_LITERAL_CENTROIDS, _bounded_vec_sample


def _arr_sql(vals) -> str:
    """array<double> literal text (the raw-SQL twin of
    :func:`similarity_core.lit_double_array` for string-built
    expressions)."""
    return "array(" + ",".join(_fmt_double(float(v)) for v in vals) + ")"


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011 — "Product Quantization for
# Nearest Neighbor Search"): compress vectors to m small codes, answer
# top-k with an asymmetric-distance lookup table. THE standard way to
# hold a billion-vector index in memory — a 64-dim float vector (256 B)
# becomes m=8 one-byte codes.
# ---------------------------------------------------------------------------


def _kmeans_l2(data, k: int, iterations: int, seed: int):
    """Seeded Lloyd's iterations under squared-L2 on a numpy array."""
    import numpy as np

    rng = np.random.default_rng(seed)
    C = data[rng.choice(len(data), size=min(k, len(data)), replace=False)].copy()
    for _ in range(iterations):
        d = ((data[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        labels = d.argmin(axis=1)
        for j in range(len(C)):
            members = data[labels == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return C


def pq_train(
    df: DataFrame,
    num_subspaces: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    sample_fraction: float = 0.1,
    iterations: int = 5,
    seed: int = 42,
    max_rows: int = 100_000,
) -> list[list[list[float]]]:
    """Train PQ codebooks: split the vector into ``num_subspaces``
    contiguous slices and run an independent squared-L2 k-means per
    slice on one bounded sample (same ``max_rows`` driver-safety cap
    as :func:`ivf_train_lite`; production swaps in MLlib KMeans per
    subspace). Returns ``codebooks[j][c]`` = centroid c of subspace j.
    Deterministic via seed. The vector width must divide evenly into
    ``num_subspaces``."""
    sample = _bounded_vec_sample(
        df, vec_col, sample_fraction, seed, max_rows, "pq_train"
    )
    dim = sample.shape[1]
    if dim % num_subspaces:
        raise ValueError(
            f"pq_train: dim {dim} not divisible by num_subspaces {num_subspaces}"
        )
    dsub = dim // num_subspaces
    return [
        [
            [float(x) for x in c]
            for c in _kmeans_l2(
                sample[:, j * dsub : (j + 1) * dsub], k, iterations, seed + j
            )
        ]
        for j in range(num_subspaces)
    ]


def pca_train(
    df: DataFrame,
    n_components: int,
    vec_col: str = "embedding",
    sample_fraction: float = 1.0,
    seed: int = 7,
    max_rows: int = 200_000,
    center: bool = True,
) -> dict:
    """Train a PCA dimensionality reduction on a BOUNDED vector sample
    (same driver-safety cap as :func:`ivf_train_lite`/:func:`pq_train`)
    and return it as plain floats: ``{"mean": [...], "components":
    [[...], ...], "explained_variance_ratio": [...]}`` — ready for
    :func:`pca_project`'s expression-only inference, persistable as
    JSON (the quality_model contract: training never scales with the
    corpus, inference never needs a runtime).

    The usual pre-ANN step: reducing 768d -> 64-128d cuts IVF/PQ/LSH
    signature cost ~linearly in dim while keeping neighbor structure.
    numpy SVD on the sample; components carry a deterministic sign
    convention (largest-|coefficient| entry positive) so re-training on
    the same sample reproduces the same matrix bit-for-bit.
    """
    import numpy as np

    sample = _bounded_vec_sample(
        df, vec_col, sample_fraction, seed, max_rows, "pca_train"
    )
    dim = sample.shape[1]
    if not 1 <= n_components <= dim:
        raise ValueError(
            f"pca_train: n_components={n_components} outside [1, dim={dim}]"
        )
    mean = sample.mean(axis=0) if center else np.zeros(dim)
    _, s, vt = np.linalg.svd(sample - mean, full_matrices=False)
    comps = vt[:n_components]
    # sign convention: flip each component so its largest-|x| entry > 0
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    var = s**2
    evr = var / var.sum() if var.sum() > 0 else var
    return {
        "mean": [float(x) for x in mean],
        "components": [[float(x) for x in c] for c in comps],
        "explained_variance_ratio": [float(x) for x in evr[:n_components]],
    }


def pca_project(
    df: DataFrame,
    model: dict,
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Project vectors onto a trained PCA basis as PURE COLUMN
    EXPRESSIONS: per output dimension one :func:`dot_literal` fold of
    the raw vector against the component, minus the precomputed
    ``mean . component`` offset (algebraically identical to centering
    first, but the centering never touches the data — one narrow
    codegen projection, no UDF, no shuffle, the plan shape that runs
    over 100 TB). Output is ``array<double>`` of ``n_components``.

    At the typical reduction shapes (<=1024 in, <=128 out) the
    expression form stays inside codegen limits.
    """
    comps = model["components"]
    mean = model.get("mean") or [0.0] * len(comps[0])
    offsets = [
        float(sum(m * c for m, c in zip(mean, comp))) for comp in comps
    ]
    # vec_col passed by NAME: each component's fold builds as one parsed
    # SQL expression (see similarity_core.dot_literal)
    proj = F.array(
        *[
            dot_literal(vec_col, comp) - F.lit(off)
            for comp, off in zip(comps, offsets)
        ]
    )
    return df.withColumn(out_col, proj)


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep: list[str] | None = None,
) -> DataFrame:
    """Encode every vector as ``codes[j]`` = nearest codebook-j
    centroid of its j-th slice (squared L2, lower code wins ties via
    the same array_min struct ordering as assign_nearest_centroid).
    ``keep`` names extra input columns carried through unchanged
    (encode_ivfpq threads its cell id this way instead of re-joining).

    The codebooks inline as plan literals (m x k tiny vectors — the
    same bounded-literal reasoning as assign_nearest_centroid), so the
    whole encode is ONE narrow codegen projection: per row,
    ``num_subspaces`` slice-argmin folds. Zero shuffles, zero Python —
    at 100 TB this is a single pass that REPLACES the vector column
    with codes at a ~32x memory reduction, which is the entire point:
    the downstream index fits where the raw vectors never would."""
    m = len(codebooks)
    if not m:
        raise ValueError("pq_encode: empty codebooks")
    dsub = len(codebooks[0][0])

    # Each subspace's whole slice-argmin builds as ONE parsed SQL
    # expression instead of ~100 py4j round trips of Column/lambda
    # scaffolding — same named_struct/transform/aggregate tree, same
    # summation order, bit-identical codes; measured seconds of pure
    # driver time per encode at 16 subspaces (plans/r12/OPTIMIZATION.md §4).
    def subspace_code_sql(j: int, cb) -> str:
        structs = ",".join(
            f"named_struct('code', {ci}, 'v', {_arr_sql(cvec)})"
            for ci, cvec in enumerate(cb)
        )
        sub = f"slice(`{vec_col}`, {j * dsub + 1}, {dsub})"
        return (
            f"array_min(transform(array({structs}), c -> named_struct("
            f"'dist', aggregate(zip_with({sub}, c.v, "
            "(a, b) -> (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)), "
            "0.0D, (acc, x) -> acc + x), "
            f"'code', c.code))).code"
        )

    codes_sql = (
        "array("
        + ",".join(subspace_code_sql(j, cb) for j, cb in enumerate(codebooks))
        + ")"
    )
    carried = [F.col(c) for c in (keep or [])]
    return df.select(F.col(id_col), *carried, F.expr(codes_sql).alias("codes"))


def pq_topk(
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    dist_col: str = "approx_dist",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: the query is sliced
    once driver-side into an m x k lookup table of exact
    slice-to-centroid squared distances (tiny — it never touches the
    cluster), and each row's approximate distance is the sum of m
    array-literal lookups indexed by its codes. Pure codegen
    arithmetic per row, then TakeOrderedAndProject (per-partition
    k-heaps, no global sort; rounded distance + id tie-break keeps the
    cutoff deterministic). This is the scan shape that serves
    billion-vector ANN from RAM: O(m) adds per candidate instead of
    O(dim) multiplies against a vector that no longer exists."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    if len(query) != m * dsub:
        raise ValueError(
            f"pq_topk: query width {len(query)} != {m}x{dsub} codebook geometry"
        )
    luts = []
    for j, cb in enumerate(codebooks):
        qj = [float(x) for x in query[j * dsub : (j + 1) * dsub]]
        lut = []
        for cvec in cb:
            d = 0.0
            for a, b in zip(qj, cvec):
                d += (a - b) * (a - b)
            lut.append(d)
        luts.append(lut)
    dist = None
    for j, lut in enumerate(luts):
        term = F.element_at(lit_double_array(lut), F.col("codes")[j] + 1)
        dist = term if dist is None else dist + term
    return (
        codes.select(
            F.col(id_col), F.round(dist + 1e-9, 4).alias(dist_col)
        )
        .orderBy(F.col(dist_col).asc(), F.col(id_col).asc())
        .limit(k)
    )


def encode_ivfpq(
    df: DataFrame,
    coarse_centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ index build (the FAISS IVFPQ layout): assign each vector
    to its nearest coarse centroid, subtract that centroid, and
    PQ-encode the RESIDUAL — residuals are smaller and more isotropic
    than raw vectors, so the same codebook budget quantizes them with
    far less error (Jégou et al. 2011 §IV). Output: (id, _cell, codes).

    One narrow codegen pass end to end: the coarse assignment is the
    SAME literal-centroid argmin expression assign_nearest_centroid
    builds (inlined here so no join is needed), the residual is a
    zip_with against the same literals resolved per row from the
    assigned cell, and the PQ slice-argmins run on the residual
    column with the cell id threaded through ``pq_encode(keep=...)``.
    Zero shuffles, zero joins; written `partitionBy('_cell')`, the
    probe filter below becomes partition pruning."""
    cents = [[float(x) for x in c] for c in coarse_centroids]
    if not cents:
        raise ValueError("encode_ivfpq: empty coarse centroids")
    if len(cents) > MAX_LITERAL_CENTROIDS:
        raise ValueError(
            f"encode_ivfpq: {len(cents)} coarse centroids exceeds the "
            f"literal-plan bound ({MAX_LITERAL_CENTROIDS})"
        )
    # The coarse argmin and the residual build as ONE parsed SQL
    # expression each instead of per-centroid Column/lambda py4j round
    # trips — identical trees, bit-identical cells/residuals (same
    # rationale as pq_encode above; plans/r12/OPTIMIZATION.md §4).
    cent_structs = ",".join(
        f"named_struct('cid', {i}, 'v', {_arr_sql(c)})" for i, c in enumerate(cents)
    )
    cell_sql = (
        f"array_min(transform(array({cent_structs}), c -> named_struct("
        f"'dist', aggregate(zip_with(`{vec_col}`, c.v, "
        "(a, b) -> (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)), "
        "0.0D, (acc, x) -> acc + x), "
        f"'cid', c.cid))).cid"
    )
    cent_arr_sql = "array(" + ",".join(_arr_sql(c) for c in cents) + ")"
    assigned = df.select(
        F.col(id_col),
        F.col(vec_col).alias("_v"),
        F.expr(cell_sql).alias("_cell"),
    )
    with_res = assigned.select(
        F.col(id_col),
        F.col("_cell"),
        F.expr(
            f"zip_with(`_v`, element_at({cent_arr_sql}, `_cell` + 1), "
            "(a, b) -> CAST(a AS DOUBLE) - b)"
        ).alias("_residual"),
    )
    return pq_encode(with_res, codebooks, "_residual", id_col, keep=["_cell"])


def topk_ivfpq(
    index: DataFrame,
    coarse_centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    query: list[float],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    dist_col: str = "approx_dist",
    rerank_with: DataFrame | None = None,
    rerank_factor: int = 4,
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ query: probe the ``n_probe`` cells whose coarse centroid
    is nearest the query (squared L2), build ONE per-cell ADC lookup
    table from the query's residual against that cell's centroid
    (driver-side, m x k x n_probe floats — never touches the cluster),
    and scan only the probed cells' codes. This is the architecture
    that serves billion-vector ANN: the cell filter prunes
    ~(1 - n_probe/n_cells) of the corpus BEFORE any distance math (on
    a `_cell`-partitioned layout it is partition pruning), and each
    surviving row costs m array lookups. Rounded distance + id
    tie-break keeps the top-k cutoff deterministic.

    ``rerank_with`` adds the IVFADC-with-refinement stage (Jégou et
    al.): ADC retrieves ``rerank_factor * k`` candidates, then their
    EXACT squared-L2 distances re-rank them from the given
    (id, vector) frame and the true top-k of the candidate set comes
    back in ``dist_col``. The refinement join touches only
    ``rerank_factor * k`` ids (a left-semi lookup against the vector
    table — broadcast-trivial), so it adds recall without giving back
    the PQ scan's pruning; this is how a production pipeline turns a
    coarse 16-centroid-per-subspace codebook into >=0.9 recall@k."""
    import numpy as np

    C = np.asarray(coarse_centroids, dtype=np.float64)
    q = np.asarray(query, dtype=np.float64)
    d2 = ((C - q) ** 2).sum(axis=1)
    # Stable sort so equidistant coarse centroids tie-break on cell id,
    # matching the oracle's ORDER BY (dist, cell) — plain argsort is
    # unstable and could probe different cells across runs/engines.
    probes = [int(i) for i in np.argsort(d2, kind="stable")[:n_probe]]
    k_retrieve = k if rerank_with is None else max(k, rerank_factor * k)
    per_cell = []
    for cell in probes:
        resid = [float(x) for x in (q - C[cell])]
        per_cell.append(
            pq_topk(
                index.filter(F.col("_cell") == cell),
                codebooks,
                resid,
                k_retrieve,
                id_col,
                dist_col,
            )
        )
    out = per_cell[0]
    for p in per_cell[1:]:
        out = out.unionByName(p)
    if rerank_with is None:
        return out.orderBy(F.col(dist_col).asc(), F.col(id_col).asc()).limit(k)
    cands = (
        out.orderBy(F.col(dist_col).asc(), F.col(id_col).asc())
        .limit(k_retrieve)
        .select(id_col)
    )
    qarr = lit_double_array([float(x) for x in query])
    exact_d = F.aggregate(
        F.zip_with(
            F.col(vec_col),
            qarr,
            lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        rerank_with.join(F.broadcast(cands), id_col, "left_semi")
        .select(F.col(id_col), F.round(exact_d + 1e-9, 4).alias(dist_col))
        .orderBy(F.col(dist_col).asc(), F.col(id_col).asc())
        .limit(k)
    )


def embedding_outliers(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    z_threshold: float = 3.0,
    dim: int | None = None,
) -> DataFrame:
    """Per-vector centroid-distance z-scores — the embedding-space
    quality gate that catches corrupt rows (zeroed vectors, wrong
    preprocessing, truncated decodes) BEFORE they poison ANN indexes
    and semantic dedup: such rows land far from the data manifold, so
    their distance to the corpus centroid is a distribution outlier.

    Returns every row as (id, ``dist`` to centroid, ``z`` score,
    ``is_outlier``) — selection stays with the caller (filter, audit
    sample, or route to re-embedding). ``is_outlier`` compares the
    ROUNDED z to ``z_threshold``, so the flag is reproducible across
    engines: the unrounded z carries ~1e-12 of summation-order noise
    (see below) and a raw ``>`` at the threshold could flip between
    runs; after round-to-4 the comparison is exact.

    Cost shape at 100 TB: the centroid is ONE map-side-combined
    aggregate pass computing all ``dim`` per-dimension means together
    (no posexplode — that would shuffle n*dim rows for a dim-row
    answer); it collects as a single row bounded by ``dim`` and
    returns as literals, so the distance is a pure codegen fold
    (ordered per-vector summation — deterministic). The z-scale
    (mean/stddev of distance) is a second 1-row broadcast. Two scans
    total, nothing driver-side scales with the corpus. Cross-row
    float reductions (means, stddev) accumulate in partition order,
    hence the documented ~1e-12 noise the rounding absorbs —
    identical convention to the money-sum oracles. A zero-spread
    distance distribution (all vectors identical) yields z = 0
    everywhere, not a division by zero.

    ``dim=None`` (the default) infers the width from the first non-null
    vector — one bounded driver probe — so the operator works on any
    embedding width without configuration; an explicit ``dim`` is still
    validated row-by-row in-plan (the raise_error guard) so ragged
    corpora fail loudly, not silently.
    """
    if dim is None or dim == 0:
        probe = (
            df.filter(F.col(vec_col).isNotNull())
            .select(F.size(F.col(vec_col)).alias("_w"))
            .head(1)
        )
        if not probe:
            raise ValueError(
                "embedding_outliers: empty input frame (or all-NULL "
                f"{vec_col!r}) — cannot infer the embedding dimension"
            )
        d = int(probe[0]["_w"])
        if d <= 0:
            raise ValueError(
                f"embedding_outliers: first non-null {vec_col!r} vector is "
                "empty; pass dim explicitly"
            )
    else:
        d = int(dim)
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    width_ok = F.size(F.col(vec_col)) == d
    guard = F.raise_error(
        F.concat(
            F.lit("embedding_outliers: vector width "),
            F.size(F.col(vec_col)).cast("string"),
            F.lit(f" != dim {d}; pass the embedding's real dimension"),
        )
    ).cast("double")
    vecs = df.select(
        F.col(id_col),
        F.when(width_ok, vec).otherwise(F.array(guard)).alias("_v"),
    )
    centroid_row = vecs.agg(
        *[F.avg(F.element_at("_v", i + 1)).alias(f"_m{i}") for i in range(d)]
    ).collect()[0]
    if centroid_row[0] is None:
        raise ValueError(
            "embedding_outliers: empty input frame (or all-NULL "
            f"{vec_col!r}) — the corpus centroid is undefined"
        )
    centroid = lit_double_array([float(centroid_row[i]) for i in range(d)])
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("_v"), centroid, lambda x, c: (x - c) * (x - c)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    dists = vecs.select(F.col(id_col), dist.alias("_dist"))
    scale = dists.agg(
        F.avg("_dist").alias("_mu"), F.stddev_samp("_dist").alias("_sigma")
    )
    z = F.when(
        F.col("_sigma") > 0, (F.col("_dist") - F.col("_mu")) / F.col("_sigma")
    ).otherwise(F.lit(0.0))
    z_rounded = F.round(z + 1e-8, 4)
    return dists.crossJoin(F.broadcast(scale)).select(
        F.col(id_col),
        F.round(F.col("_dist") + 1e-8, 4).alias("dist"),
        z_rounded.alias("z"),
        (z_rounded > z_threshold).alias("is_outlier"),
    )

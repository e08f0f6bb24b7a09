"""Hyperplane-LSH primitives and exact similarity search: seeded plane
family, banded signatures, brute-force cosine
top-k, multi-probe LSH top-k, and reciprocal-rank fusion. Split from
similarity.py along family lines; operators.similarity re-exports the
surface."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _seeded_plane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: numpy RNG seeded by the
    plane index, so executors and the driver agree without broadcasting
    state."""
    import numpy as np

    rng = np.random.default_rng(1_000_003 * (plane_idx + 1))
    v = rng.standard_normal(dim)
    return [float(x) for x in v]


def _fmt_double(v: float) -> str:
    """SQL double-literal text for a finite float. ``repr`` round-trips
    to the identical IEEE double and Java's ``Double.parseDouble`` picks
    the same nearest value, so the parsed literal is bit-identical to
    ``F.lit(v)`` (verified incl. subnormals, -0.0, scientific notation)."""
    import math

    v = float(v)
    if not math.isfinite(v):
        raise ValueError(f"_fmt_double: non-finite literal {v!r}")
    return repr(v) + "D"


def lit_double_array(vals: list[float]) -> Column:
    """array<double> literal built by ONE parsed SQL expression.

    ``F.array(*[F.lit(x) for x in vals])`` costs len(vals)+1 py4j round
    trips; for the 64-wide planes/centroids this family inlines by the
    dozen, that is thousands of driver round trips PER PLAN BUILD —
    measured ~7 s of pure driver time for 24 plane dots at dim 64
    (plans/r12/OPTIMIZATION.md). One ``F.expr`` parse of the same literals is
    ~40x cheaper and analyzes to the identical CreateArray(Literal...)
    tree, so results are bit-identical. Falls back to the per-element
    path if any value is non-finite (no SQL literal syntax)."""
    import math

    fv = [float(v) for v in vals]
    if all(math.isfinite(v) for v in fv):
        return F.expr("array(" + ",".join(_fmt_double(v) for v in fv) + ")")
    return F.array(*[F.lit(v) for v in fv])


def _dot_sql(vec_sql: str, plane: list[float]) -> str:
    """Full SQL text of the vec . constant-plane fold — the zero-py4j
    twin of :func:`dot_literal` for callers that know the vector's SQL
    expression text (same zip_with/aggregate tree, same summation
    order, bit-identical result)."""
    arr = "array(" + ",".join(_fmt_double(x) for x in plane) + ")"
    return (
        f"aggregate(zip_with({vec_sql}, {arr}, "
        "(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, x) -> acc + x)"
    )


def dot_literal(vec_col: Column | str, plane: list[float]) -> Column:
    """vec . constant-plane via zip_with against an array literal.

    Pass the vector as its column NAME (str) where possible: the whole
    fold then builds as one parsed SQL expression instead of ~70 py4j
    round trips (see :func:`lit_double_array`); a Column argument keeps
    the composable path with the array literal still built by one parse.
    """
    import math

    if isinstance(vec_col, str) and all(math.isfinite(float(x)) for x in plane):
        return F.expr(_dot_sql(f"`{vec_col}`", plane))
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.aggregate(
        F.zip_with(c, lit_double_array(plane), lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _plane_matrix_sql(dim: int, plane_ids: list[list[int]]) -> str:
    """ONE ``array<array<array<double>>>`` literal holding the seeded
    planes ``plane_ids[band][bit]``, parsed from a JSON string. The
    analyzer sees a single string literal whatever the matrix size
    (inlined ``array(...)`` text analyzes to one node per double), and
    ``from_json`` folds to a constant at optimization. ``repr`` text
    round-trips each double exactly and the JSON reader picks the same
    nearest value, so the parsed planes are bit-identical to
    :func:`_seeded_plane`."""
    import json

    planes = [[_seeded_plane(dim, i) for i in band] for band in plane_ids]
    return (
        f"from_json('{json.dumps(planes, separators=(',', ':'))}', "
        "'array<array<array<double>>>')"
    )


def _plane_fold_sql(vec_sql: str, planes_sql: str, dim: int) -> str:
    """SQL text of the packed hyperplane signature of ``vec_sql`` over
    the planes ``planes_sql`` (an ``array<array<double>>``): bit i =
    sign(vec . plane_i), each dot the zip_with/aggregate fold whose
    summation order the DuckDB oracle's ``list_sum`` mirrors. A vector
    whose width is not ``dim`` raises (raise_error) rather than
    zero-padding the dot. The one fold behind
    :func:`hyperplane_signature` and :func:`banded_signatures`."""
    size_ok = f"(size({vec_sql}) = {dim})"
    guard = (
        "CAST(raise_error(concat('hyperplane_signature: vector width ', "
        f"CAST(size({vec_sql}) AS STRING), "
        f"' != dim {dim}; pass the embedding''s real dimension')) AS BIGINT)"
    )
    dot = (
        f"aggregate(zip_with({vec_sql}, _pl, (_x, _y) -> CAST(_x AS DOUBLE) * _y), "
        "0.0D, (_s, _z) -> _s + _z)"
    )
    bit = (
        f"CASE WHEN ({size_ok} AND ({dot} > 0)) THEN shiftleft(CAST(1 AS BIGINT), _i) "
        f"WHEN (NOT {size_ok}) THEN {guard} ELSE CAST(0 AS BIGINT) END"
    )
    return (
        f"aggregate(transform({planes_sql}, (_pl, _i) -> {bit}), CAST(0 AS BIGINT), "
        "(_sig, _bit) -> _sig | _bit)"
    )


def _banded_signatures_sql(
    vec_sql: str, num_planes: int, num_bands: int, dim: int, plane_offset: int = 0
) -> str:
    """SQL text of ``array<struct<band: int, sig: bigint>>``: one
    :func:`_plane_fold_sql` signature per band, band b over planes
    ``plane_offset + b * num_planes + i``. One parse per plan, whatever
    ``num_bands * num_planes * dim``."""
    matrix = _plane_matrix_sql(
        dim,
        [
            [plane_offset + b * num_planes + i for i in range(num_planes)]
            for b in range(num_bands)
        ],
    )
    fold = _plane_fold_sql(vec_sql, "_planes", dim)
    return f"transform({matrix}, (_planes, _band) -> named_struct('band', _band, 'sig', {fold}))"


def hyperplane_signature(
    vec_col: str,
    num_planes: int = 8,
    dim: int | None = None,
    plane_offset: int = 0,
) -> Column:
    """Random-hyperplane LSH signature of the vector column named
    ``vec_col``: bit i = sign(vec . plane_i), packed into a long. dim
    defaults to 64 (the synthetic table's width); pass the real
    dimension in production.

    ``plane_offset`` shifts the plane family (plane index =
    plane_offset + i) so banded LSH (dedup.embedding_near_dup_pairs)
    gets independent planes per band. Planes are deterministic
    literals (seeded by index alone), so any engine can reproduce the
    exact signature — the DuckDB oracle twin does.

    The vector width MUST equal ``dim``: a mismatch is a run-time
    error (raise_error), never a silent degradation — zip_with would
    otherwise NULL-pad the dot, zero every signature, and collapse
    all LSH blocking into one bucket (an O(n^2) join that still
    "works" on small data and hangs at scale).

    The signature is ONE parsed SQL expression: the planes are one
    ``from_json`` literal matrix folded by ``transform`` /
    ``aggregate`` (:func:`_plane_fold_sql`, shared with
    :func:`banded_signatures`), so its plan holds a constant number of
    literals whatever ``num_planes * dim``."""
    if not isinstance(vec_col, str):
        raise TypeError(
            "hyperplane_signature: pass the vector column's NAME (a str), "
            f"got {type(vec_col).__name__}"
        )
    sigs = _banded_signatures_sql(f"`{vec_col}`", num_planes, 1, dim or 64, plane_offset)
    return F.expr(f"{sigs}[0].sig")


def banded_signatures(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    num_planes: int = 6,
    num_bands: int = 4,
    dim: int | None = None,
    out_id: str = "id",
) -> DataFrame:
    """(out_id, band, sig) rows: one banded hyperplane-LSH signature per
    band, plane family disjoint across bands (plane index =
    band * num_planes + i). The shared blocking primitive behind
    embedding near-dup and the LSH k-NN join — only (id, band, sig)
    rows ever shuffle.

    The plane dots are JVM zip_with/aggregate folds whose summation
    order is bit-identical to the DuckDB oracle's ``list_sum``, so any
    external engine reproduces the buckets exactly. A vector whose
    width differs from ``dim`` raises rather than silently collapsing
    the blocking into one bucket."""
    # the whole banded signature is ONE parsed SQL expression over one
    # literal plane matrix (_banded_signatures_sql): one py4j parse per
    # plan build and a constant literal count in the analyzed plan
    # (per-plane inlined literals analyzed ~3,300 nodes per plan at
    # 4 bands x 13 planes x dim 64)
    sigs = _banded_signatures_sql(f"`{vec_col}`", num_planes, num_bands, dim or 64)
    return df.selectExpr(
        f"`{id_col}` AS `{out_id}`", f"inline({sigs})"
    )


def cosine_to_query(vec_col: Column, query: list[float]) -> Column:
    """Cosine(vec, constant query) — JVM-side.

    Zero-norm row vectors yield NULL (cosine undefined), never NaN —
    NaN compares greater than every double in Spark and would top any
    desc similarity ranking; NULLs sort last instead. A zero query
    vector is rejected outright."""
    q = [float(x) for x in query]
    qnorm = sum(x * x for x in q) ** 0.5
    if qnorm == 0.0:
        raise ValueError("query vector has zero norm; cosine is undefined")
    dot = dot_literal(vec_col, q)
    vnorm = F.sqrt(
        F.aggregate(vec_col, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double"))
    )
    return F.when(vnorm > 0, dot / (vnorm * F.lit(qnorm)))


def topk_bruteforce(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k: score every vector, TakeOrdered k.

    ``orderBy().limit(k)`` compiles to TakeOrderedAndProject — each
    partition keeps a k-heap and only k rows per partition reach the
    driver; no global sort, no shuffle of the corpus.
    """
    scored = df.select(
        F.col(id_col), cosine_to_query(F.col(vec_col), query).alias("cosine")
    ).filter(F.col("cosine").isNotNull())
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def topk_lsh(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 8,
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: score only vectors whose hyperplane signature
    is within ``probe_hamming`` bits of the query's (multi-probe LSH).

    The signature filter is a narrow predicate — at 100 TB it prunes
    ~ (1 - Σ C(p,i)/2^p) of the corpus before any scoring work.
    """
    dim = len(query)
    sig_col = hyperplane_signature(vec_col, num_planes, dim)

    qsig = 0
    for i in range(num_planes):
        plane = _seeded_plane(dim, i)
        if sum(a * b for a, b in zip(query, plane)) > 0:
            qsig |= 1 << i

    candidates = df.withColumn("_sig", sig_col).filter(
        F.bit_count(F.col("_sig").bitwiseXOR(F.lit(qsig))) <= probe_hamming
    )
    return topk_bruteforce(candidates, query, k, vec_col, id_col)


def rrf_fuse(
    ranked: list[tuple[DataFrame, str]],
    id_col: str = "doc_id",
    k_rrf: int = 60,
    topk: int = 10,
    round_digits: int = 6,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) over N
    candidate lists — the standard hybrid-retrieval combiner for a
    lexical list (``text.bm25_topk``) and a vector list
    (``topk_bruteforce`` / ``topk_ivf``): each candidate contributes
    ``1 / (k_rrf + rank_i)`` per list it appears in, ranks computed
    per-list by (score desc, id asc) so ties break deterministically.
    Returns (id, rrf_score, n_lists) — the fused top-``topk``.

    Inputs are BOUNDED retrieval results (top-k frames, k rows each),
    never corpora — per-list ranks are therefore computed with ONE
    aggregate per list: ``posexplode(sort_array(collect_list(
    struct(-score, id))))`` sorts <= k rows inside a single expression
    (ascending struct order == score desc, id asc — scores are
    non-null by retrieval construction), producing the exact
    ``row_number`` ranks with ZERO Window nodes, so the plan can never
    trip the unpartitioned-WindowExec warning that buries real
    single-partition regressions. The expensive corpus work stays
    inside the upstream retrieval operators with their own documented
    scale shapes. Fusion itself is a union of N tiny frames + one
    groupBy over <= N*k rows.
    """
    if not ranked:
        raise ValueError("rrf_fuse: need at least one ranked list")
    if k_rrf < 1 or topk < 1:
        raise ValueError("rrf_fuse: k_rrf and topk must be >= 1")
    parts = []
    for df_i, score_col in ranked:
        ordered = F.sort_array(
            F.collect_list(
                F.struct(
                    (-F.col(score_col)).alias("_ns"), F.col(id_col).alias("_id")
                )
            )
        )
        parts.append(
            # NULL scores have no rank: the old desc-nulls-last window
            # put them LAST; ascending struct sort would put them FIRST
            # and hand the worst candidate the biggest RRF share — drop
            # them outright (a NULL-scored row is not a retrieval hit).
            # NaN is dropped for the same reason: Spark orders NaN above
            # every double, so -NaN (still NaN) would sort LAST ascending
            # while the old desc window ranked it FIRST — neither rank is
            # meaningful for a non-comparable score, so it gets none.
            df_i.filter(
                F.col(score_col).isNotNull()
                & ~F.isnan(F.col(score_col).cast("double"))
            )
            .agg(ordered.alias("_l"))
            .select(F.posexplode("_l").alias("_pos", "_e"))
            .select(
                F.col("_e._id").alias(id_col),
                (F.col("_pos") + 1).alias("_rank"),
            )
        )
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    return (
        union.groupBy(id_col)
        .agg(
            F.round(
                F.sum(1.0 / (F.lit(float(k_rrf)) + F.col("_rank"))) + 1e-9,
                round_digits,
            ).alias("rrf_score"),
            F.count("*").cast("long").alias("n_lists"),
        )
        .orderBy(F.col("rrf_score").desc(), F.col(id_col).asc())
        .limit(topk)
    )



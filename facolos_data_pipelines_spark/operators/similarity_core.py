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


def _hyperplane_signature_sql(
    vec_sql: str, num_planes: int, dim: int, plane_offset: int
) -> str:
    """Full SQL text of the packed hyperplane signature — the
    zero-py4j twin of :func:`hyperplane_signature` (same per-bit CASE
    structure, same width guard, bit-identical result)."""
    size_ok = f"(size({vec_sql}) = {dim})"
    guard = (
        "CAST(raise_error(concat('hyperplane_signature: vector width ', "
        f"CAST(size({vec_sql}) AS STRING), "
        f"' != dim {dim}; pass the embedding''s real dimension')) AS BIGINT)"
    )
    bits = []
    for i in range(num_planes):
        dot = _dot_sql(vec_sql, _seeded_plane(dim, plane_offset + i))
        bits.append(
            f"CASE WHEN ({size_ok} AND ({dot} > 0)) THEN CAST({1 << i} AS BIGINT) "
            f"WHEN (NOT {size_ok}) THEN {guard} ELSE CAST(0 AS BIGINT) END"
        )
    out = "CAST(0 AS BIGINT)"
    for b in bits:
        out = f"({out} | {b})"
    return out


def hyperplane_signature(
    vec_col: Column | str,
    num_planes: int = 8,
    dim: int | None = None,
    plane_offset: int = 0,
) -> Column:
    """Random-hyperplane LSH signature: bit i = sign(vec . plane_i),
    packed into a long. dim defaults to 64 (the synthetic table's
    width); pass the real dimension in production.

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

    Pass the vector as its column NAME (str) where possible: the whole
    num_planes-bit signature then builds as ONE parsed SQL expression
    instead of thousands of py4j round trips (bit-identical tree — see
    :func:`lit_double_array`)."""
    d = dim or 64
    if isinstance(vec_col, str):
        return F.expr(_hyperplane_signature_sql(f"`{vec_col}`", num_planes, d, plane_offset))
    width_ok = F.size(vec_col) == d
    guard = F.raise_error(
        F.concat(
            F.lit(f"hyperplane_signature: vector width "),
            F.size(vec_col).cast("string"),
            F.lit(f" != dim {d}; pass the embedding's real dimension"),
        )
    ).cast("long")
    bits = [
        F.when(
            width_ok & (dot_literal(vec_col, _seeded_plane(d, plane_offset + i)) > 0),
            F.lit(1 << i).cast("long"),
        )
        .when(~width_ok, guard)
        .otherwise(F.lit(0).cast("long"))
        for i in range(num_planes)
    ]
    out = F.lit(0).cast("long")
    for b in bits:
        out = out.bitwiseOR(b)
    return out


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
    # vec_col passed as its NAME: each band's whole signature builds as
    # one parsed SQL expression (see hyperplane_signature) — the py4j
    # round-trip count per plan build drops from ~num_bands*num_planes*
    # (dim+6) to ~num_bands parses (measured ~7 s -> ~0.2 s of driver
    # time at 4 bands x 6 planes x dim 64; plans/r12/OPTIMIZATION.md).
    arr = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                hyperplane_signature(
                    vec_col, num_planes, dim, plane_offset=band * num_planes
                ).alias("sig"),
            )
            for band in range(num_bands)
        ]
    )
    return df.select(F.col(id_col).alias(out_id), F.explode(arr).alias("_bs")).select(
        out_id, F.col("_bs.band").alias("band"), F.col("_bs.sig").alias("sig")
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



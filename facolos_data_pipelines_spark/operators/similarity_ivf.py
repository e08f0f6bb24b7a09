"""IVF coarse quantization (assign / lite + distributed k-means
training / cell-probed top-k), k-NN joins (brute-force and LSH-
blocked), ANN recall gates, and semantic decontamination. Split from
similarity.py; operators.similarity re-exports the surface."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .similarity_core import banded_signatures, lit_double_array, topk_bruteforce


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantization: add ``_cell`` = argmax-cosine centroid id.

    Centroids come from any trained codebook (k-means on a sample; a
    seeded random subset works as a fallback — see ``ivf_train_lite``).
    Assignment is an Arrow-batched numpy matmul (k x dim per batch):
    at wide dims BLAS beats per-element codegen by an order of
    magnitude, and only one int column is added to the frame.
    """
    import numpy as np
    import pandas as pd

    C = np.asarray(centroids, dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    fields = df.schema.fields
    out_schema = T.StructType(list(fields) + [T.StructField("_cell", T.IntegerType())])

    def assign(batches):
        for pdf in batches:
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            yield pdf.assign(_cell=np.argmax(mat @ Cn.T, axis=1).astype("int32"))

    return df.mapInPandas(assign, out_schema)


def _bounded_vec_sample(
    df: DataFrame,
    vec_col: str,
    sample_fraction: float,
    seed: int,
    max_rows: int,
    caller: str,
):
    """Collect a null-filtered, hard-capped vector sample as a float64
    matrix, raising a clear ValueError instead of an opaque np.stack
    crash when the sample comes back empty (tiny df x small fraction,
    or an all-null vector column)."""
    import numpy as np

    rows = [
        r[0]
        for r in df.select(vec_col)
        .filter(F.col(vec_col).isNotNull())
        .sample(fraction=sample_fraction, seed=seed)
        .limit(max_rows)
        .collect()
    ]
    if not rows:
        raise ValueError(
            f"{caller}: sampled zero non-null vectors "
            f"(sample_fraction={sample_fraction}); raise sample_fraction "
            "or check that the vector column is populated"
        )
    return np.stack(rows).astype(np.float64)


def ivf_train_lite(
    df: DataFrame,
    k: int = 16,
    vec_col: str = "embedding",
    sample_fraction: float = 0.1,
    iterations: int = 3,
    seed: int = 42,
    max_rows: int = 100_000,
) -> list[list[float]]:
    """Tiny driver-side k-means on a sample — a stand-in codebook
    trainer (production would use MLlib KMeans on the full corpus).
    Deterministic via seed.

    The driver collect is hard-bounded by ``max_rows`` (``limit`` after
    the sample): a fraction-based sample alone grows linearly with the
    corpus and would OOM the driver at 100 TB. 100k x 64 doubles is
    ~50 MB — safe on any driver, and far more than k-means needs for a
    coarse codebook."""
    import numpy as np

    sample = _bounded_vec_sample(
        df, vec_col, sample_fraction, seed, max_rows, "ivf_train_lite"
    )
    rng = np.random.default_rng(seed)
    C = sample[rng.choice(len(sample), size=min(k, len(sample)), replace=False)]
    for _ in range(iterations):
        d = sample @ C.T
        labels = np.argmax(d, axis=1)
        for j in range(len(C)):
            members = sample[labels == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return [[float(x) for x in c] for c in C]


def ivf_train_distributed(
    df: DataFrame,
    k: int = 16,
    vec_col: str = "embedding",
    dim: int = 64,
    iterations: int = 3,
    seed: int = 42,
    init_sample_fraction: float = 0.01,
) -> list[list[float]]:
    """Distributed k-means codebook trainer — the full-scale path the
    bounded :func:`ivf_train_lite` stands in for.

    Initialization draws k centroids from a tiny bounded sample whose
    membership and order derive from a content hash (see the inline
    note — partition layout can never change the draw); each
    iteration then (1) assigns cells executor-side via the Arrow matmul
    (:func:`ivf_assign`) and (2) updates centroids with ``dim``
    per-element AVG aggregates — map-side partial aggregation means the
    shuffle carries k x dim partials per task, and the driver only ever
    holds the k x dim codebook. Nothing driver-side scales with the
    corpus, so this trains on 100 TB as written (production would still
    prefer MLlib KMeans for k-means++ init and convergence checks).
    Empty cells keep their previous centroid.
    """
    import numpy as np

    # ORDER-STABLE init draw (r10 advice): rows are gated by a content
    # hash of the vector (xxhash64 pmod fraction — the deterministic
    # twin of a Bernoulli sample) and the cap keeps the hash-smallest
    # survivors (TakeOrderedAndProject — per-partition top-K, no global
    # sort materializes). sample(seed).limit(n) would keep whichever
    # rows arrived first, which depends on partition layout: a
    # repartitioned corpus would draw different init centroids and
    # could flake hash-pinned recall gates (ivf_topk) with no real
    # regression. The seed still perturbs the draw via the gate offset.
    gate = max(1, int(init_sample_fraction * 1_000_000))
    offset = int(seed) % 1_000_000
    h = F.pmod(F.xxhash64(F.col(vec_col)) + F.lit(offset), F.lit(1_000_000))
    init = [
        list(r[0])
        for r in df.select(F.col(vec_col), h.alias("_h"))
        .filter(F.col(vec_col).isNotNull())
        .filter(F.col("_h") < gate)
        .orderBy("_h", F.col(vec_col))
        .limit(max(k * 8, 64))
        .select(vec_col)
        .collect()
    ]
    if not init:
        raise ValueError(
            "ivf_train_distributed: the init sample returned no rows — "
            "empty input frame, or init_sample_fraction too small; raise it"
        )
    if len(init) < k:
        import warnings

        warnings.warn(
            f"ivf_train_distributed: init sample has {len(init)} rows < k={k}; "
            f"returning a {len(init)}-centroid codebook. Raise "
            "init_sample_fraction for a full-size codebook.",
            RuntimeWarning,
            stacklevel=2,
        )
    rng = np.random.default_rng(seed)
    pick = rng.choice(len(init), size=min(k, len(init)), replace=False)
    C = [init[i] for i in pick]
    for _ in range(iterations):
        assigned = ivf_assign(df, C, vec_col)
        aggs = [
            F.avg(F.col(vec_col)[i].cast("double")).alias(f"c{i}") for i in range(dim)
        ]
        rows = assigned.groupBy("_cell").agg(*aggs).collect()
        by_cell = {r["_cell"]: [r[f"c{i}"] for i in range(dim)] for r in rows}
        C = [by_cell.get(j, C[j]) for j in range(len(C))]
    return [[float(x) for x in c] for c in C]


def ivf_train(
    df: DataFrame,
    k: int = 16,
    vec_col: str = "embedding",
    dim: int = 64,
    small_threshold: int = 100_000,
    iterations: int = 3,
    seed: int = 42,
    init_sample_fraction: float = 0.01,
) -> list[list[float]]:
    """Codebook trainer dispatch — THE default entry point for IVF.

    Corpora at or under ``small_threshold`` rows train driver-side
    (:func:`ivf_train_lite` on the full set — cheapest and exact for
    small data); anything larger trains with the distributed k-means
    rounds (:func:`ivf_train_distributed`), whose driver footprint is
    the k x dim codebook regardless of corpus size. The size probe is
    ``limit(threshold + 1).count()`` so it never scans past the
    threshold. Pass ``small_threshold=0`` to force the distributed
    path (e.g. to exercise it in tests)."""
    if (
        small_threshold > 0
        and df.limit(small_threshold + 1).count() <= small_threshold
    ):
        return ivf_train_lite(
            df,
            k,
            vec_col,
            sample_fraction=1.0,
            iterations=iterations,
            seed=seed,
            max_rows=small_threshold,
        )
    return ivf_train_distributed(
        df,
        k,
        vec_col,
        dim,
        iterations,
        seed,
        init_sample_fraction=init_sample_fraction,
    )


def topk_ivf(
    df: DataFrame,
    query: list[float],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF top-k: score only vectors in the ``n_probe`` cells nearest
    the query. The standard ANN scale path: the `_cell` filter prunes
    ~(1 - n_probe/k_cells) of the corpus before any scoring; on a
    `_cell`-partitioned layout the filter becomes partition pruning and
    the scan never touches the other cells' files.
    """
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    q = np.asarray(query, dtype=np.float64)
    q = q / max(np.linalg.norm(q), 1e-12)
    probes = [int(i) for i in np.argsort(-(Cn @ q))[:n_probe]]
    assigned = ivf_assign(df, centroids, vec_col)
    candidates = assigned.filter(F.col("_cell").isin(probes)).drop("_cell")
    return topk_bruteforce(candidates, query, k, vec_col, id_col)


def knn_join_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    q_vec: str = "embedding",
    q_id: str = "vec_id",
    c_vec: str = "embedding",
    c_id: str = "vec_id",
) -> DataFrame:
    """k-NN join: for every query row, its top-k corpus neighbors.

    Broadcast the smaller side (queries), cross-score, window-rank per
    query. At scale: broadcast queries in chunks, or LSH-block both
    sides on shared signatures first.
    """
    from pyspark.sql import Window

    from .dedup import cosine_similarity

    q = queries.select(F.col(q_id).alias("query_id"), F.col(q_vec).alias("qv"))
    c = corpus.select(F.col(c_id).alias("neighbor_id"), F.col(c_vec).alias("cv"))
    scored = F.broadcast(q).crossJoin(c).select(
        "query_id",
        "neighbor_id",
        cosine_similarity(F.col("qv"), F.col("cv")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def knn_join_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    q_vec: str = "embedding",
    q_id: str = "vec_id",
    c_vec: str = "embedding",
    c_id: str = "vec_id",
    num_planes: int = 6,
    num_bands: int = 4,
    dim: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Approximate k-NN join for LARGE query sides — the scale twin of
    :func:`knn_join_bruteforce`.

    Choosing between the two: broadcast-bruteforce is exact and right
    while the query side fits a broadcast (rule of thumb: under ~10 MB
    / a few thousand vectors — or chunk it); beyond that the cross
    product is the killer, and this variant blocks BOTH sides on
    shared banded hyperplane signatures (similarity.banded_signatures)
    so scoring happens only inside (band, sig) buckets. Both sides
    shuffle once on (band, sig) carrying only (id, band, sig) rows;
    vectors join back by id for scoring, proportional to candidates.
    Approximate: a query gets fewer than k neighbors when its buckets
    are thin — raise num_bands (recall) or lower num_planes (bucket
    width) to trade recall vs candidate count. Zero-norm rows never
    pair (NULL cosine filtered)."""
    from pyspark.sql import Window

    from .dedup import cosine_similarity

    qs = banded_signatures(queries, q_vec, q_id, num_planes, num_bands, dim,
                           "query_id")
    cs = banded_signatures(corpus, c_vec, c_id, num_planes, num_bands, dim,
                           "neighbor_id")
    if max_bucket_size is not None:
        # Degenerate hot buckets (e.g. many near-zero vectors all
        # landing on sig=0) would make the candidate join quadratic —
        # cap on the corpus side, same guard as embedding_near_dup_pairs
        # / lsh_candidate_pairs.
        from .skew import drop_oversized_groups

        cs = drop_oversized_groups(cs, ["band", "sig"], max_bucket_size)
    cand = qs.join(cs, ["band", "sig"]).select("query_id", "neighbor_id").dropDuplicates()
    qv = queries.select(F.col(q_id).alias("query_id"), F.col(q_vec).alias("qv"))
    cv = corpus.select(F.col(c_id).alias("neighbor_id"), F.col(c_vec).alias("cv"))
    scored = (
        cand.join(qv, "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity(F.col("qv"), F.col("cv")).alias("cosine"),
        )
        .filter(F.col("cosine").isNotNull())
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def ann_recall_at_k(
    approx: DataFrame, exact: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Index-quality gate: recall of an ANN candidate list against the
    exact answer — ``|approx ∩ exact| / |exact|`` plus the raw counts,
    one output row. This is how an IVF/PQ/LSH index earns its place in
    a pipeline: measure recall@k on a query sample BEFORE trusting the
    approximate path at corpus scale, and re-measure when the corpus
    drifts from the codebook's training distribution.

    Both inputs are top-k lists (k rows each), so the join and
    aggregate are driver-trivial at any corpus size — the cost lives
    in producing the lists, not comparing them."""
    a = approx.select(F.col(id_col).alias("_aid")).dropDuplicates()
    e = exact.select(F.col(id_col).alias("_eid")).dropDuplicates()
    # An empty exact list must surface as recall=0.0, not a NULL that a
    # `recall >= x` gate would silently misread.
    return e.join(a, e["_eid"] == a["_aid"], "left").agg(
        F.count("*").cast("long").alias("n_exact"),
        F.count("_aid").cast("long").alias("n_hit"),
        F.when(
            F.count("*") > 0, F.round(F.count("_aid") / F.count("*") + 1e-9, 4)
        )
        .otherwise(F.lit(0.0))
        .alias("recall"),
    )


def semantic_decontaminate(
    train: DataFrame,
    test: DataFrame,
    threshold: float = 0.9,
    train_vec: str = "embedding",
    train_id: str = "vec_id",
    test_vec: str = "embedding",
    test_id: str = "vec_id",
    blocked: bool = False,
    num_planes: int = 6,
    num_bands: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-space decontamination: drop every train row whose
    cosine to ANY test vector is >= ``threshold`` — the SEMANTIC twin
    of ``text.decontaminate`` (n-gram overlap) and
    ``text.decontaminate_bloom``. N-gram matching misses paraphrased
    test leakage; this catches it wherever the embedding space puts
    paraphrases near their source.

    Exact path (default): broadcast the test set (benchmark suites
    are thousands of rows — broadcast-size by construction),
    cross-score each train vector against it JVM-side, anti-join the
    distinct offenders. Cost |train| x |test| codegen dot products in
    ONE pass with no shuffle of the train side beyond the anti-join.

    ``blocked=True`` is the large-test-set path: banded hyperplane
    signatures (``banded_signatures``, shared seeded planes) on both
    sides, (train, test) rows colliding in any band become candidate
    PAIRS, and only those pairs are exactly verified — the same
    candidate-only discipline as ``embedding_near_dup_pairs``; the
    test set is never broadcast or cross-joined. Recall follows the
    LSH band/plane geometry, so keep the exact path wherever the test
    set broadcasts.

    Zero-norm vectors (cosine undefined -> NULL) are never flagged;
    they survive on the train side and never match on the test side.
    """
    from .dedup import cosine_similarity

    if not 0.0 < threshold <= 1.0:
        raise ValueError("semantic_decontaminate: threshold must be in (0, 1]")
    if blocked:
        tr_sig = banded_signatures(
            train, train_vec, train_id, num_planes, num_bands, dim, out_id="_tid"
        )
        te_sig = banded_signatures(
            test, test_vec, test_id, num_planes, num_bands, dim, out_id="_qid"
        )
        cand = tr_sig.join(te_sig, ["band", "sig"]).select("_tid", "_qid").dropDuplicates()
        tv = train.select(F.col(train_id).alias("_tid"), F.col(train_vec).alias("_v"))
        qv = test.select(F.col(test_id).alias("_qid"), F.col(test_vec).alias("_tv"))
        hits = (
            cand.join(tv, "_tid")
            .join(qv, "_qid")
            .filter(cosine_similarity(F.col("_v"), F.col("_tv")) >= threshold)
            .select(F.col("_tid").alias(train_id))
            .dropDuplicates()
        )
    else:
        t = test.select(F.col(test_vec).alias("_tv"))
        hits = (
            train.select(F.col(train_id), F.col(train_vec).alias("_v"))
            .crossJoin(F.broadcast(t))
            .filter(cosine_similarity(F.col("_v"), F.col("_tv")) >= threshold)
            .select(train_id)
            .dropDuplicates()
        )
    return train.join(hits, train_id, "left_anti")


MAX_LITERAL_CENTROIDS = 256


def assign_nearest_centroid(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cluster_id",
    centroid_vec_col: str = "centroid",
) -> DataFrame:
    """Nearest-centroid assignment (the k-means E-step / coarse IVF
    quantizer) as pure JVM expressions — the oracle-checkable twin of
    the Arrow-matmul :func:`ivf_assign` fast path.

    The k centroid rows are inlined as plan literals (k is bounded by
    ``MAX_LITERAL_CENTROIDS`` — collecting them is the same k-row
    driver hop a broadcast would make, not a data-dependent collect),
    so the whole operator is ONE narrow projection: per row, a
    ``transform`` over the k (dist, cid) structs — squared L2 via
    ``zip_with``/``aggregate`` in index order, bit-reproducible across
    engines — and argmin via ``array_min`` struct ordering, which
    tie-breaks on the lower cluster id. Zero shuffles, zero joins,
    whole-stage codegen end to end; at 100 TB the cost is exactly one
    pass over the embeddings. Prefer :func:`ivf_assign` when k is large
    enough that BLAS matmul beats k codegen'd fold loops (~k > 64) and
    the assignment need not be engine-portable.
    """
    rows = centroids.select(
        F.col(centroid_id_col).alias("cid"), F.col(centroid_vec_col).alias("cvec")
    ).collect()
    if not rows:
        raise ValueError("assign_nearest_centroid: empty centroid frame")
    if len(rows) > MAX_LITERAL_CENTROIDS:
        raise ValueError(
            f"assign_nearest_centroid: {len(rows)} centroids exceeds the "
            f"literal-plan bound ({MAX_LITERAL_CENTROIDS}); use ivf_assign"
        )
    # The whole k-centroid argmin builds as ONE parsed SQL expression
    # instead of per-centroid Column/lambda py4j round trips —
    # identical named_struct/transform/aggregate tree, bit-identical
    # assignments (same rationale as pq_encode;
    # plans/r12/OPTIMIZATION.md §4). Integer cid literals mirror F.lit's
    # int-vs-long typing.
    from .similarity_core import _fmt_double

    def _cid_sql(cid) -> str:
        c = int(cid)
        return str(c) if -(2**31) <= c < 2**31 else f"{c}L"

    cent_structs = ",".join(
        "named_struct('cid', {}, 'v', array({}))".format(
            _cid_sql(r["cid"]),
            ",".join(_fmt_double(float(x)) for x in r["cvec"]),
        )
        for r in rows
    )
    best_sql = (
        f"array_min(transform(array({cent_structs}), c -> named_struct("
        f"'dist', aggregate(zip_with(`{vec_col}`, c.v, "
        "(a, b) -> (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)), "
        "0.0D, (acc, x) -> acc + x), "
        f"'cid', c.cid)))"
    )
    best = F.expr(best_sql)
    return embeddings.select(
        F.col(id_col),
        best["cid"].alias(centroid_id_col),
        best["dist"].alias("sq_dist"),
    )



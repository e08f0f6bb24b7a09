"""LLM-pipeline extension operators: dedup families, similarity search,
text analysis, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from facolos_data_pipelines_spark.operators import dedup, multimodal, similarity, text

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup
    (3, "the quick brown fox jumps over the lazy dog near the creek bank"),  # near dup
    (4, "completely different content about spark dataframes and shuffle joins"),
    (5, "spark dataframes need partitioning strategies for shuffle joins at scale"),
    (6, ""),  # empty
    (7, "   "),  # whitespace only
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup_keeps_min_id(docs):
    out = dedup.exact_dedup(docs)
    ids = {r["doc_id"] for r in out.collect()}
    assert 1 in ids and 2 not in ids  # dup loses, min id wins
    assert {3, 4, 5}.issubset(ids)


def test_minhash_dedup_drops_near_dups_keeps_distinct(docs):
    out = dedup.minhash_dedup(docs, threshold=0.5)
    ids = {r["doc_id"] for r in out.collect()}
    assert 1 in ids and 2 not in ids  # exact dup caught
    assert 3 not in ids  # near dup (1 word of 13 differs) caught
    assert 4 in ids and 5 in ids  # same topic, different text — kept
    assert 6 in ids and 7 in ids  # empty docs untouched


def test_minhash_signatures_shape(docs):
    sigs = dedup.minhash_signatures(docs, num_hashes=16)
    rows = sigs.collect()
    assert all(len(r["sig"]) == 16 for r in rows)
    by_id = {r["doc_id"]: r["sig"] for r in rows}
    assert by_id[1] == by_id[2]  # identical text -> identical signature
    assert 6 not in by_id and 7 not in by_id  # empty docs have no signature


def test_simhash_dedup(docs):
    out = dedup.simhash_dedup(docs, max_hamming=3)
    ids = {r["doc_id"] for r in out.collect()}
    assert 1 in ids and 2 not in ids  # identical fingerprints, hamming 0
    assert 4 in ids  # distinct content survives
    assert 6 in ids and 7 in ids


def test_simhash_lane_packing_matches_per_bit_majority(spark):
    """The 16-bit-lane packed vote counters must reproduce the naive
    per-bit majority fingerprint exactly."""
    from pyspark.sql import functions as F

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "one two three"),
        (3, "repeated repeated repeated distinct"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    # ground truth: per-word xxhash64 from Spark, majority vote in Python
    wh = (
        df.select(F.col("doc_id"), F.explode(dedup.normalized_words("text")).alias("w"))
        .select("doc_id", F.xxhash64("w").alias("h"))
        .collect()
    )
    by_doc: dict[int, list[int]] = {}
    for r in wh:
        by_doc.setdefault(r["doc_id"], []).append(r["h"] & ((1 << 64) - 1))
    expected = {}
    for doc, hs in by_doc.items():
        fp = 0
        for j in range(64):
            if sum((h >> j) & 1 for h in hs) * 2 > len(hs):
                fp |= 1 << j
        expected[doc] = fp - (1 << 64) if fp >= (1 << 63) else fp

    got = {r["doc_id"]: r["_fp"] for r in dedup.simhash_fingerprints(df).collect()}
    assert got == expected


def test_portable_md5_minhash_dedup(docs):
    """The md5 family (cross-engine portable lanes) must produce the
    same dedup semantics as the native families."""
    out = dedup.minhash_dedup(docs, num_hashes=16, bands=4, threshold=0.5, family="md5")
    ids = {r["doc_id"] for r in out.collect()}
    assert 1 in ids and 2 not in ids and 3 not in ids
    assert {4, 5, 6, 7}.issubset(ids)
    # md5 lanes are 32-char lowercase hex strings
    sigs = dedup.minhash_signatures(docs, num_hashes=8, family="md5").collect()
    assert all(len(v) == 32 for r in sigs for v in r["sig"])


def test_portable_md5_simhash_dedup(docs):
    out = dedup.simhash_dedup_md5(docs, max_hamming=3)
    ids = {r["doc_id"] for r in out.collect()}
    assert 1 in ids and 2 not in ids  # identical text -> hamming 0
    assert 4 in ids and 6 in ids and 7 in ids
    fps = dedup.simhash_fingerprints_md5(docs).collect()
    assert all(0 <= r["_fp"] < (1 << 60) for r in fps)  # positive 60-bit pack


def test_minhash_family_explicit_no_silent_switch(spark, docs):
    """The hash family is an explicit contract: on an ANSI session the
    default multiply_add family must raise a clear ValueError at plan
    build (NOT silently switch families, NOT ArithmeticException at
    run time), and family='xxhash' must work there. num_hashes beyond
    the family size must raise a clear error, not IndexError."""
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        with pytest.raises(ValueError, match="ANSI"):
            dedup.minhash_signatures(docs, num_hashes=8)
        sigs = dedup.minhash_signatures(docs, num_hashes=8, family="xxhash")
        rows = {r["doc_id"]: r["sig"] for r in sigs.collect()}
        assert all(len(s) == 8 for s in rows.values())
        assert rows[1] == rows[2]  # identical text -> identical signature
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "false")

    # the two families intentionally produce different signatures
    ma = {r["doc_id"]: r["sig"] for r in dedup.minhash_signatures(docs, num_hashes=8).collect()}
    xx = {r["doc_id"]: r["sig"] for r in dedup.minhash_signatures(docs, num_hashes=8, family="xxhash").collect()}
    assert ma[1] != xx[1]

    with pytest.raises(ValueError, match="hash family"):
        dedup.minhash_signatures(docs, num_hashes=512)
    with pytest.raises(ValueError, match="unknown MinHash family"):
        dedup.minhash_signatures(docs, family="sha9000")


def test_ansi_guard_reads_the_effective_value(spark, docs):
    """With ``spark.sql.ansi.enabled`` unset, the guard reads the
    session's effective value — ``true``, Spark 4's default — not a
    ``"false"`` fallback, so multiply_add refuses at plan build."""
    key = "spark.sql.ansi.enabled"
    before = spark.conf.get(key)
    spark.conf.unset(key)
    try:
        assert spark.conf.get(key) == "true"
        with pytest.raises(ValueError, match="ANSI"):
            dedup.minhash_signatures(docs, num_hashes=8)
    finally:
        spark.conf.set(key, before)


def test_lsh_bucket_cap_drops_hot_buckets(spark):
    """With every doc identical, all 8 band buckets have size 5; a cap
    of 4 removes them all (no candidate pairs), while uncapped LSH
    pairs everything."""
    df = spark.createDataFrame(
        [(i, "same exact words in every single document here") for i in range(5)],
        ["doc_id", "text"],
    )
    buckets = dedup.minhash_lsh_buckets(df)
    assert dedup.lsh_candidate_pairs(buckets).count() == 10
    assert dedup.lsh_candidate_pairs(buckets, max_bucket_size=4).count() == 0


def test_connected_components_min_label(spark):
    pairs = spark.createDataFrame(
        [(1, 3), (2, 3), (5, 6)], ["id_a", "id_b"]
    )
    comps = {r["node"]: r["component"] for r in dedup.connected_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}


def test_connected_components_long_chain_converges(spark):
    """A 64-node path graph (diameter 63) must converge well inside
    max_iter thanks to pointer doubling — plain one-hop propagation
    needed a round per hop and aborted at 20."""
    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["id_a", "id_b"]
    )
    comps = {
        r["node"]: r["component"]
        for r in dedup.connected_components(
            pairs, max_iter=10, driver_threshold=0
        ).collect()
    }
    assert comps == {i: 0 for i in range(n)}


def test_connected_components_partial_labels_with_warning(spark):
    """Exceeding max_iter returns partially-converged labels with a
    RuntimeWarning instead of aborting the job; groups must still be
    subsets of true components (never merge across components)."""
    import warnings

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(31)] + [(100, 101)], ["id_a", "id_b"]
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        labels = dedup.connected_components(
            pairs, max_iter=1, driver_threshold=0
        ).collect()
    assert any("did not fully converge" in str(w.message) for w in caught)
    comps = {r["node"]: r["component"] for r in labels}
    # labels only ever decrease within the true component
    assert all(c <= n and (c >= 100) == (n >= 100) for n, c in comps.items())
    assert comps[100] == 100 and comps[101] == 100  # small component done


def test_minhash_transitive_drops_chained_near_dups(spark):
    """doc3 bridges doc1 and doc2 (both pairs above threshold, 1-2
    below): the single sweep keeps doc2 (never the higher id of a
    verified pair with doc1), transitive components keep only doc1."""
    a = " ".join(f"w{i}" for i in range(12))
    b = [f"b{i}" for i in range(12)]
    c = [f"c{i}" for i in range(12)]
    rows = [
        (1, a + " " + " ".join(b)),
        (2, a + " " + " ".join(c)),
        (3, a + " " + " ".join(b[:6] + c[:6])),
    ]

    # self-validating: true 3-gram jaccards must straddle the threshold
    def grams(t):
        ws = t.split()
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    g = {i: grams(t) for i, t in rows}
    j = lambda x, y: len(g[x] & g[y]) / len(g[x] | g[y])
    thr = 0.4
    assert j(1, 3) >= thr and j(2, 3) >= thr and j(1, 2) < thr

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kw = dict(num_hashes=32, bands=16, threshold=thr)
    sweep = {r["doc_id"] for r in dedup.minhash_dedup(df, **kw).collect()}
    trans = {r["doc_id"] for r in dedup.minhash_dedup(df, transitive=True, **kw).collect()}
    assert sweep == {1, 2}
    assert trans == {1}


def test_verified_pairs_report_true_jaccard(spark, docs):
    buckets = dedup.minhash_lsh_buckets(docs)
    pairs = dedup.lsh_candidate_pairs(buckets)
    verified = dedup.verified_near_dup_pairs(docs, pairs, threshold=0.4)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in verified.collect()}
    assert got[(1, 2)] == pytest.approx(1.0)
    assert (1, 3) in got and 0.4 <= got[(1, 3)] < 1.0


def test_embedding_dedup_and_topk(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),  # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    kept = {r["vec_id"] for r in dedup.embedding_dedup(emb, threshold=0.99, dim=4).collect()}
    assert kept == {1, 3, 4}
    # a wrong dim must raise at run time, never silently degrade to
    # single-bucket (O(n^2)) blocking
    with pytest.raises(Exception, match="vector width"):
        dedup.embedding_near_dup_pairs(emb, threshold=0.99).collect()

    top = similarity.topk_bruteforce(emb, [1.0, 0.0, 0.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in top] == [1, 2]
    assert top[0]["cosine"] == pytest.approx(1.0)


def test_zero_norm_vectors_never_pair_or_top_rank(spark):
    """Zero vectors have no defined cosine: they must be explicitly
    excluded from near-dup pairs (previously silently NaN-dropped),
    must yield NULL from cosine primitives (NaN would sort ABOVE 1.0
    in a desc ranking), and must never outrank real vectors in top-k."""
    from pyspark.sql import functions as F

    rows = [
        (1, [1.0, 0.0]),
        (2, [0.9999, 0.0141]),  # near-dup of 1
        (3, [0.0, 0.0]),        # zero vector
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    pairs = dedup.embedding_near_dup_pairs(emb, threshold=0.5, dim=2).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}
    kept = {r["vec_id"] for r in dedup.embedding_dedup(emb, threshold=0.5, dim=2).collect()}
    assert kept == {1, 3}  # zero vector survives: it pairs with nothing

    cos = emb.select(
        similarity.cosine_to_query(F.col("embedding"), [1.0, 0.0]).alias("c")
    ).collect()
    vals = [r["c"] for r in cos]
    assert vals[2] is None and all(v is not None for v in vals[:2])

    null_pair = emb.filter("vec_id = 3").select(
        dedup.cosine_similarity(F.col("embedding"), F.col("embedding")).alias("c")
    ).first()
    assert null_pair["c"] is None

    # undefined-cosine rows are excluded: k=3 exceeds the number of
    # nonzero-norm rows, so top-k returns 2 rows
    top = similarity.topk_bruteforce(emb, [1.0, 0.0], k=3).collect()
    assert [r["vec_id"] for r in top] == [1, 2]  # zero row excluded

    with pytest.raises(ValueError, match="zero norm"):
        similarity.topk_bruteforce(emb, [0.0, 0.0], k=1)


def test_embedding_near_dup_blocked_default_is_subset_of_exact(spark, sf_dir):
    """The default (banded hyperplane-LSH) plan must (a) never invent a
    pair the exact all-pairs opt-in doesn't have, (b) agree with it on
    every cosine it does report, and (c) retain high-cosine pairs with
    the OR-amplified probability — at 0.95+ the planted near-dups
    should essentially all survive 6x4 banding."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in dedup.embedding_near_dup_pairs(emb, threshold=0.4, num_planes=0).collect()
    }
    blocked = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in dedup.embedding_near_dup_pairs(
            emb, threshold=0.4, num_planes=6, num_bands=4, dim=64
        ).collect()
    }
    assert set(blocked) <= set(exact)
    for pair, cos in blocked.items():
        assert cos == pytest.approx(exact[pair])
    high = {p for p, c in exact.items() if c >= 0.95}
    if high:  # planted near-dups must survive banding
        assert len(high & set(blocked)) >= len(high) * 0.8
    # deterministic: same plan, same result
    again = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dup_pairs(
            emb, threshold=0.4, num_planes=6, num_bands=4, dim=64
        ).collect()
    }
    assert again == set(blocked)


def test_exact_pair_gemm_matches_expr(spark, sf_dir):
    """The tiled-GEMM exact path must reproduce a numpy all-pairs
    reference at 6 decimals — including with a tile size small enough
    to force a multi-tile grid, which exercises the cross-tile
    single-emit (min-id-first) logic — and so must the per-cluster
    GEMM used by semantic_dedup, against the same reference restricted
    to same-cluster pairs."""
    import numpy as np

    from facolos_data_pipelines_spark.operators.dedup_embedding import (
        _normalized_vectors,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = sorted(
        (r["vec_id"], r["embedding"]) for r in emb.collect()
        if any(x != 0 for x in r["embedding"])
    )
    ids = np.array([i for i, _ in rows])
    mat = np.array([v for _, v in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T

    def reference(threshold, same_group=None):
        ii, jj = np.triu_indices(len(ids), k=1)
        keep = sims[ii, jj] >= threshold
        if same_group is not None:
            keep &= same_group[ii] == same_group[jj]
        return {
            (int(ids[i]), int(ids[j])): float(sims[i, j])
            for i, j in zip(ii[keep], jj[keep])
        }

    def check(got, ref, threshold):
        # a pair within float noise of the threshold may land either
        # side of it; every other pair must match with its cosine
        edge = lambda p: abs(p[1] - threshold) < 1e-9  # noqa: E731
        assert {k for k, c in got.items() if not edge((k, c))} == {
            k for k, c in ref.items() if not edge((k, c))
        }
        for k, c in got.items():
            assert round(c, 6) == round(ref.get(k, c), 6)

    ref = reference(0.4)
    assert ref  # threshold low enough that pairs exist
    scaled = _normalized_vectors(emb, "embedding", "vec_id")
    for tile_rows in (2048, 7):  # single-tile and many-tile grids
        got = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in dedup._exact_pairs_gemm(scaled, "vec_id", 0.4, tile_rows).collect()
        }
        check(got, ref, 0.4)
    default = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in dedup.embedding_near_dup_pairs(emb, threshold=0.4, num_planes=0).collect()
    }
    check(default, ref, 0.4)

    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cluster_id"), F.col("embedding").alias("centroid")
    )
    cluster = {
        r["vec_id"]: r["cluster_id"]
        for r in similarity.assign_nearest_centroid(emb, cents).collect()
    }
    sem = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in dedup.semantic_dedup_pairs(emb, cents, threshold=0.3).collect()
    }
    sem_ref = reference(0.3, np.array([cluster[int(i)] for i in ids]))
    assert sem_ref
    check(sem, sem_ref, 0.3)


def test_hash_split_and_sample_per_group(spark, sf_dir):
    from facolos_data_pipelines_spark.operators import sampling

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    split1 = {r["doc_id"]: r["split"] for r in sampling.hash_split(docs).collect()}
    split2 = {r["doc_id"]: r["split"] for r in sampling.hash_split(docs).collect()}
    assert split1 == split2  # stable across runs
    shares = {s: sum(1 for v in split1.values() if v == s) / n for s in set(split1.values())}
    assert 0.8 < shares["train"] < 0.97  # ~0.9 with 500-doc noise
    assert set(shares) == {"train", "val", "test"}
    with pytest.raises(ValueError, match="sum to 1"):
        sampling.hash_split(docs, splits={"a": 0.5, "b": 0.2})

    sampled = sampling.sample_per_group(docs, "lang", k=7).collect()
    per_group = {}
    for r in sampled:
        per_group[r["lang"]] = per_group.get(r["lang"], 0) + 1
    assert all(v <= 7 for v in per_group.values())
    again = {r["doc_id"] for r in sampling.sample_per_group(docs, "lang", k=7).collect()}
    assert again == {r["doc_id"] for r in sampled}  # deterministic
    # different salt re-deals the selection
    other = {
        r["doc_id"]
        for r in sampling.sample_per_group(docs, "lang", k=7, salt="other").collect()
    }
    assert other != again

    strat = sampling.stratified_sample(docs, "lang", {r["lang"]: 0.2 for r in docs.select("lang").distinct().collect()})
    assert 0 < strat.count() < n


def test_chunk_documents_windows_and_overlap(spark):
    toks = " ".join(f"t{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, toks), (2, "only three tokens"), (3, ""), (4, "   ")],
        ["doc_id", "text"],
    )
    out = text.chunk_documents(df, chunk_tokens=10, overlap=2)
    rows = sorted(out.collect(), key=lambda r: (r["doc_id"], r["chunk_id"]))
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 30 tokens, stride 8 -> ceil((30-2)/8) = 4 chunks; last one short
    assert [r["chunk_id"] for r in by_doc[1]] == [0, 1, 2, 3]
    assert by_doc[1][0]["chunk_text"].split() == [f"t{i}" for i in range(10)]
    assert by_doc[1][1]["chunk_text"].split()[0] == "t8"  # 2-token overlap
    assert by_doc[1][3]["n_tokens"] == 6  # 30 - 3*8 = 6 tail tokens
    # short doc -> exactly one whole-doc chunk; empty docs emit nothing
    assert len(by_doc[2]) == 1 and by_doc[2][0]["chunk_text"] == "only three tokens"
    assert 3 not in by_doc and 4 not in by_doc
    with pytest.raises(ValueError, match="overlap"):
        text.chunk_documents(df, chunk_tokens=8, overlap=8)


def test_redact_pii_patterns_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@corp.example.org today"),
            (2, "server 192.168.0.17 answered"),
            (3, "call +1 (555) 123-4567 now"),
            (4, "nothing sensitive here"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in text.redact_pii(df).collect()}
    assert out[1]["n_email"] == 1 and "@" not in out[1]["clean_text"]
    assert out[2]["n_ipv4"] == 1 and "192.168" not in out[2]["clean_text"]
    assert out[3]["n_phone"] == 1 and "4567" not in out[3]["clean_text"]
    assert out[4]["clean_text"] == "nothing sensitive here"
    assert all(out[i]["clean_text"].count("[REDACTED]") == 1 for i in (1, 2, 3))


def test_ivf_distributed_trainer_produces_working_codebook(spark, sf_dir):
    """The distributed trainer (cell assignment + per-element AVG
    aggregates, nothing driver-side proportional to the corpus) must
    yield a codebook that topk_ivf can search: k rows out, the query's
    own vector rank-1 when it's in the corpus."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = similarity.ivf_train_distributed(
        emb, k=4, dim=64, iterations=2, init_sample_fraction=1.0
    )
    assert len(cents) == 4 and all(len(c) == 64 for c in cents)
    probe = emb.select("embedding").first()["embedding"]
    out = similarity.topk_ivf(emb, [float(x) for x in probe], cents, k=5, n_probe=2).collect()
    assert len(out) == 5
    assert out[0]["cosine"] == pytest.approx(1.0)  # self-match survives probing


def test_ivf_train_dispatches_by_corpus_size(spark, sf_dir):
    """ivf_train is the default entry: small corpora stay driver-side
    (lite path, full-sample), large ones (forced here via
    small_threshold=0) run the distributed k-means rounds. Both must
    hand topk_ivf a usable codebook."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    probe = [float(x) for x in emb.select("embedding").first()["embedding"]]

    lite = similarity.ivf_train(emb, k=4, small_threshold=10_000)
    dist = similarity.ivf_train(
        emb, k=4, small_threshold=0, iterations=2, init_sample_fraction=1.0
    )
    for cents in (lite, dist):
        assert len(cents) == 4 and all(len(c) == 64 for c in cents)
        out = similarity.topk_ivf(emb, probe, cents, k=3, n_probe=2).collect()
        assert len(out) == 3
        assert out[0]["cosine"] == pytest.approx(1.0)


def test_ngram_jaccard_capped_postings_stay_conservative(spark):
    """A viral boilerplate shingle must not blow up the posting-list
    self-join: with max_posting_size set, the capped run completes and
    reports a subset of the exact run's pairs (conservative), and on a
    skew-free corpus capped == exact."""
    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, f"{boiler} unique tail {i} {'x' * (i % 3)}") for i in range(40)]
    rows += [(100, "totally different text one"), (101, "totally different text one")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(
            df, threshold=0.5, max_posting_size=None
        ).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(
            df, threshold=0.5, max_posting_size=5
        ).collect()
    }
    assert capped <= exact  # never invents a duplicate
    assert (100, 101) in capped  # skew-free pair still found
    # default cap (10k) >> every posting list here -> identical to exact
    default = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()
    }
    assert default == exact


def test_knn_join_lsh_matches_bruteforce_on_real_vectors(spark, sf_dir):
    """The LSH-blocked k-NN join must return a bucket-local subset of
    the bruteforce result: every (query, neighbor) it reports must
    score identically, and on sf0.001 vectors with 4x4 banding the
    rank-1 self-match (cosine 1.0, always in the query's own bucket)
    must never be lost."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    bf = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in similarity.knn_join_bruteforce(queries, emb, k=10).collect()
    }
    lsh = similarity.knn_join_lsh(
        queries, emb, k=3, num_planes=4, num_bands=4, dim=64
    ).collect()
    for r in lsh:
        key = (r["query_id"], r["neighbor_id"])
        if key in bf:  # shared pairs score identically
            assert r["cosine"] == pytest.approx(bf[key])
    by_query = {}
    for r in lsh:
        by_query.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_query.items():
        top = max(rows, key=lambda r: r["cosine"])
        assert top["neighbor_id"] == qid and top["cosine"] == pytest.approx(1.0)


def test_knn_join(spark):
    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.knn_join_bruteforce(emb.filter("vec_id < 2"), emb, k=1)
    got = {(r["query_id"], r["neighbor_id"]) for r in out.collect()}
    assert got == {(0, 0), (1, 1)}  # each query's nearest neighbor is itself


def test_text_stats_and_tokens(spark):
    df = spark.createDataFrame(
        [(1, "Hello, world! This is a test."), (2, ""), (3, "  ")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in text.text_stats(df).collect()}
    assert out[1]["stat_words"] == 6
    assert out[2]["stat_words"] == 0 and out[3]["stat_words"] == 0
    toks = {r["doc_id"]: r for r in df.select(
        "doc_id",
        text.token_count_whitespace("text").alias("ws"),
        text.token_count_bpe_like("text").alias("bpe"),
    ).collect()}
    assert toks[1]["ws"] == 6
    assert toks[1]["bpe"] == 9  # 6 words + 3 punctuation marks (, ! .)
    assert toks[2]["ws"] == 0 and toks[3]["ws"] == 0


def test_detect_language_und_on_empty(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog was in the house"), (2, ""), (3, "zzz qqq xxx")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["detected_lang"] for r in text.detect_language(df).collect()}
    assert out[1] == "en"
    assert out[2] == "und" and out[3] == "und"


def test_fingerprint_stable_under_formatting(spark):
    df = spark.createDataFrame(
        [(1, "Hello,   World! Test one two three four five"),
         (2, "hello world test one two three four five"),
         (3, "something else entirely different here now ok then")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in text.fingerprint(df).collect()}
    assert out[1]["fp_content"] == out[2]["fp_content"]  # case/punct-insensitive
    assert out[1]["fp_content"] != out[3]["fp_content"]
    assert out[1]["fp_rolling_min"] == out[2]["fp_rolling_min"]

    # md5-portable twin: same invariances, known digest of the
    # normalized content ("hello world test one two three four five")
    import hashlib

    m = {r["doc_id"]: r for r in text.fingerprint_md5(df).collect()}
    assert m[1]["fp_content"] == m[2]["fp_content"] != m[3]["fp_content"]
    assert m[1]["fp_rolling_min"] == m[2]["fp_rolling_min"]
    expect = hashlib.md5(b"hello world test one two three four five").hexdigest()
    assert m[1]["fp_content"] == expect


def test_fingerprint_validate_ids_rejects_dup_and_null(spark):
    """fingerprint's rolling-min joins back on id_col: duplicate ids
    mis-key and null ids fall back to the empty hash, so
    validate_ids=True must reject both up front with an actionable
    error; a clean frame passes."""
    clean = spark.createDataFrame(
        [(1, "one two three four five six"), (2, "seven eight nine ten eleven twelve")],
        ["doc_id", "text"],
    )
    assert text.fingerprint(clean, validate_ids=True).count() == 2

    dup = spark.createDataFrame(
        [(1, "one two three four five six"), (1, "other words here now then ok")],
        ["doc_id", "text"],
    )
    with pytest.raises(ValueError, match="unique, non-null id"):
        text.fingerprint(dup, validate_ids=True)

    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    withnull = spark.createDataFrame(
        [(None, "one two three four five six"), (2, "seven eight nine ten eleven twelve")],
        schema,
    )
    with pytest.raises(ValueError, match="unique, non-null id"):
        text.fingerprint_md5(withnull, validate_ids=True)


def test_multimodal_image_features(spark):
    rows = [(1, b"\x89PNGfake1", "png", 8, 8, 9), (2, b"\x89PNGfake2", "png", 8, 8, 9)]
    df = spark.createDataFrame(rows, multimodal.IMAGE_SCHEMA)
    out = multimodal.extract_image_features(df).collect()
    assert len(out) == 2
    for r in out:
        assert len(r["features"]) == multimodal.FEATURE_DIM
        assert abs(sum(r["features"]) - 1.0) < 1e-5  # normalized histogram
        assert 0 <= r["mean_pixel"] <= 255
    # deterministic stub: same payload -> same features, and the seed is
    # process-independent (crc32, not salted hash()) so features match a
    # locally recomputed decode
    again = multimodal.extract_image_features(df).collect()
    assert [r["features"] for r in again] == [r["features"] for r in out]
    import numpy as np

    px = multimodal._decode_image_stub(b"\x89PNGfake1")
    hist = np.histogram(px, bins=multimodal.FEATURE_DIM, range=(0, 256))[0]
    expect = (hist / max(int(hist.sum()), 1)).astype(np.float32).tolist()
    got = next(r["features"] for r in out if r["media_id"] == 1)
    assert got == pytest.approx(expect)


def test_video_frame_sampling_is_pure_spark(spark):
    rows = [(1, None, "h264", 30.0, 91, 1000), (2, None, "h264", 24.0, 1, 10)]
    df = spark.createDataFrame(rows, multimodal.VIDEO_SCHEMA)
    out = multimodal.sample_video_frames(df, every_n=30).collect()
    frames = sorted(r["frame_index"] for r in out if r["media_id"] == 1)
    assert frames == [0, 30, 60, 90]
    assert [r["frame_index"] for r in out if r["media_id"] == 2] == [0]


def test_ngram_jaccard_dedup_exact(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.4)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(1, 2)] == pytest.approx(1.0)  # identical docs
    assert (1, 3) in got and 0.4 <= got[(1, 3)] < 1.0  # near dup, exact value
    kept = {r["doc_id"] for r in dedup.ngram_jaccard_dedup(docs, threshold=0.5).collect()}
    assert 1 in kept and 2 not in kept and 3 not in kept
    assert {4, 5, 6, 7}.issubset(kept)


def test_ngram_jaccard_agrees_with_minhash_verify(spark, docs):
    """Exact inverted-index Jaccard == exact array-intersection Jaccard."""
    buckets = dedup.minhash_lsh_buckets(docs)
    lsh_pairs = dedup.lsh_candidate_pairs(buckets)
    via_arrays = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.verified_near_dup_pairs(docs, lsh_pairs, threshold=0.3).collect()
    }
    via_index = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    for pair, j in via_arrays.items():
        assert via_index[pair] == pytest.approx(j)


def test_ivf_topk_finds_exact_neighbors(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((200, 16)).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(200)], ["vec_id", "embedding"]
    )
    centroids = similarity.ivf_train_lite(emb, k=4, sample_fraction=1.0)
    assert len(centroids) == 4 and len(centroids[0]) == 16

    q = [float(x) for x in vecs[17]]
    exact = [r["vec_id"] for r in similarity.topk_bruteforce(emb, q, k=5).collect()]
    approx = [r["vec_id"] for r in similarity.topk_ivf(emb, q, centroids, k=5, n_probe=2).collect()]
    assert approx[0] == 17  # the vector itself lives in the probed cell
    assert len(set(exact[:3]) & set(approx)) >= 2  # high recall on the head

    assigned = similarity.ivf_assign(emb, centroids)
    cells = assigned.select("_cell").distinct().count()
    assert 2 <= cells <= 4  # corpus actually spread over cells


def test_repetition_stats_flags_repeated_content(spark):
    df = spark.createDataFrame(
        [
            (1, "same line\nsame line\nsame line\nother line"),
            (2, "buy now buy now buy now buy now"),
            (3, "a perfectly normal sentence with varied words"),
            (4, ""),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in text.repetition_stats(df).collect()}
    assert out[1]["dup_line_frac"] == pytest.approx(0.5)  # 2 distinct of 4
    # "buy now" appears 4x of 7 bigrams
    assert out[2]["top_bigram_frac"] == pytest.approx(4 / 7)
    assert out[3]["dup_line_frac"] == pytest.approx(0.0)
    assert out[3]["top_bigram_frac"] == pytest.approx(1 / 6)  # all unique bigrams
    assert out[4]["dup_line_frac"] is None and out[4]["top_bigram_frac"] is None


def test_arrow_signatures_loud_on_width_mismatch(spark):
    """Banded signatures raise on a vector whose width differs from
    ``dim`` instead of collapsing the blocking into one bucket."""
    emb = spark.createDataFrame([(1, [1.0, 2.0])], ["vec_id", "embedding"])
    with pytest.raises(Exception, match="vector width 2"):
        similarity.banded_signatures(emb, "embedding", "vec_id").collect()


def test_pq_roundtrip_recall_and_geometry(spark, sf_dir):
    """PQ encode produces one code per subspace within codebook range;
    the query's own vector ranks first in ADC top-k; recall@10 vs
    exact L2 clears the coarse-codebook bar; geometry mismatches and
    empty codebooks are rejected."""
    import numpy as np

    from facolos_data_pipelines_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cbs = pq_train(emb, num_subspaces=8, k=32, sample_fraction=1.0)
    assert len(cbs) == 8 and all(len(cb) <= 32 for cb in cbs)
    assert all(len(c) == 8 for cb in cbs for c in cb)

    codes = pq_encode(emb, cbs)
    row = codes.first()
    assert len(row["codes"]) == 8
    assert all(0 <= c < 32 for c in row["codes"])

    rows = emb.collect()
    q = next(r for r in rows if r["vec_id"] == rows[0]["vec_id"])["embedding"]
    qid = rows[0]["vec_id"]
    top = pq_topk(codes, cbs, [float(x) for x in q], k=10).collect()
    assert top[0]["vec_id"] == qid  # self is nearest
    assert [r["approx_dist"] for r in top] == sorted(r["approx_dist"] for r in top)

    # ADC must APPROXIMATE true squared-L2: on structureless synthetic
    # vectors a hard recall bar is the wrong property (quantization error
    # dominates), but rank correlation between approx and exact distance
    # must be strong, and the self vector must sit at distance ~its own
    # quantization residual (far below the corpus median).
    ids = np.array([r["vec_id"] for r in rows])
    V = np.stack([np.array(r["embedding"], dtype=np.float64) for r in rows])
    d = ((V - np.array(q, dtype=np.float64)) ** 2).sum(axis=1)
    all_approx = {r["vec_id"]: r["approx_dist"]
                  for r in pq_topk(codes, cbs, [float(x) for x in q], k=len(rows)).collect()}
    approx_arr = np.array([all_approx[int(i)] for i in ids])
    corr = np.corrcoef(approx_arr, d)[0, 1]
    assert corr > 0.6, corr
    assert all_approx[int(qid)] < np.median(approx_arr) / 2

    with pytest.raises(ValueError, match="query width"):
        pq_topk(codes, cbs, [0.0] * 63)
    with pytest.raises(ValueError, match="empty"):
        pq_encode(emb, [])
    with pytest.raises(ValueError, match="divisible"):
        pq_train(emb, num_subspaces=7, sample_fraction=1.0)


def test_ivfpq_index_and_probe(spark, sf_dir):
    """IVF-PQ: the index stores (id, _cell, codes) with residual-coded
    PQ; probing n cells returns the query's own vector first and only
    ids from probed cells; widening n_probe can only improve (or keep)
    the approximate top-k distance at any rank."""
    from facolos_data_pipelines_spark.operators.similarity import (
        encode_ivfpq,
        ivf_train_lite,
        pq_train,
        topk_ivfpq,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    coarse = ivf_train_lite(emb, k=4, sample_fraction=1.0)
    cbs = pq_train(emb, num_subspaces=8, k=16, sample_fraction=1.0)

    index = encode_ivfpq(emb, coarse, cbs)
    assert set(index.columns) == {"vec_id", "codes", "_cell"}
    assert index.count() == emb.count()
    cells = {r["_cell"] for r in index.select("_cell").distinct().collect()}
    assert cells <= set(range(4)) and len(cells) >= 2

    row = emb.first()
    q = [float(x) for x in row["embedding"]]
    top1 = topk_ivfpq(index, coarse, cbs, q, k=5, n_probe=1).collect()
    assert top1[0]["vec_id"] == row["vec_id"]  # self found in its own cell
    # all hits come from the single probed cell
    probed_ids = {r["vec_id"] for r in top1}
    cell_of = {r["vec_id"]: r["_cell"] for r in index.collect()}
    assert len({cell_of[i] for i in probed_ids}) == 1

    top_all = topk_ivfpq(index, coarse, cbs, q, k=5, n_probe=4).collect()
    # monotone: probing every cell can only tighten the k-th distance
    assert top_all[-1]["approx_dist"] <= top1[-1]["approx_dist"] + 1e-9
    assert top_all[0]["vec_id"] == row["vec_id"]


def test_keep_best_per_cluster_prefers_score_over_min_id(spark):
    """Cluster {1,2,3}: doc 2 has the best score and survives even
    though 1 is the min id; docs outside the cluster frame are
    singleton survivors."""
    docs = spark.createDataFrame(
        [(1, 5.0), (2, 9.0), (3, 7.0), (4, 1.0), (5, 2.0)],
        ["doc_id", "score"],
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], ["node", "component"]
    )
    kept = {
        r["doc_id"]
        for r in dedup.keep_best_per_cluster(docs, clusters, "score").collect()
    }
    assert kept == {2, 4, 5}


def test_keep_best_per_cluster_tiebreak_and_ascending(spark):
    docs = spark.createDataFrame(
        [(1, 3.0), (2, 3.0), (3, 8.0)], ["doc_id", "score"]
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], ["node", "component"]
    )
    # score tie between 1 and 2 at the top? 3 wins outright (8.0);
    # with descending=False the tied minimum 3.0 breaks to the lower id
    best = dedup.keep_best_per_cluster(docs, clusters, "score").collect()
    assert [r["doc_id"] for r in best] == [3]
    worst = dedup.keep_best_per_cluster(
        docs, clusters, "score", descending=False
    ).collect()
    assert [r["doc_id"] for r in worst] == [1]
    # output keeps the input schema only (no cluster internals)
    assert set(best[0].asDict()) == {"doc_id", "score"}

    clash = docs.withColumn("_comp", docs["score"])
    with pytest.raises(ValueError, match="_comp"):
        dedup.keep_best_per_cluster(clash, clusters, "score")


def test_semantic_decontaminate_exact_and_blocked(spark):
    """Train vectors identical to a test vector are dropped on both
    paths (identical vectors always share every LSH band, so the
    blocked path's recall is exact for them); zero-norm rows survive;
    bad thresholds raise."""
    test = spark.createDataFrame(
        [(1000, [1.0] * 8 + [0.0] * 56)], ["vec_id", "embedding"]
    )
    train = spark.createDataFrame(
        [
            (1, [1.0] * 8 + [0.0] * 56),        # exact leak -> dropped
            (2, [-1.0] * 8 + [0.0] * 56),       # opposite -> kept
            (3, [0.0] * 64),                     # zero norm -> kept
            (4, [0.0] * 8 + [1.0] * 8 + [0.0] * 48),  # orthogonal -> kept
        ],
        ["vec_id", "embedding"],
    )
    exact = {
        r["vec_id"]
        for r in similarity.semantic_decontaminate(
            train, test, threshold=0.9
        ).collect()
    }
    assert exact == {2, 3, 4}
    blocked = {
        r["vec_id"]
        for r in similarity.semantic_decontaminate(
            train, test, threshold=0.9, blocked=True, dim=64
        ).collect()
    }
    assert 1 not in blocked and {2, 3}.issubset(blocked)

    with pytest.raises(ValueError, match="threshold"):
        similarity.semantic_decontaminate(train, test, threshold=0.0)


def test_keep_policy_threads_through_dedup_family(spark):
    """score_col on the dedup entry points switches the survivor from
    the min id to the best score, with the same cluster structure:
    three near-identical docs (one word differs) where the BEST copy
    has the highest id."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today ok", 5.0),
            (2, "the quick brown fox jumps over the lazy dog today no", 7.0),
            (3, "the quick brown fox jumps over the lazy dog today yes", 9.0),
            (4, "completely different text about spark shuffles and joins", 1.0),
        ],
        ["doc_id", "text", "quality"],
    )
    minid = {r["doc_id"] for r in dedup.minhash_dedup(docs, threshold=0.5).collect()}
    assert minid == {1, 4}
    best = {
        r["doc_id"]
        for r in dedup.minhash_dedup(
            docs, threshold=0.5, score_col="quality"
        ).collect()
    }
    assert best == {3, 4}
    # simhash needs closer copies at hamming<=3: identical texts
    same = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog", 5.0),
            (2, "the quick brown fox jumps over the lazy dog", 9.0),
            (4, "completely different text about spark shuffles", 1.0),
        ],
        ["doc_id", "text", "quality"],
    )
    best_sim = {
        r["doc_id"]
        for r in dedup.simhash_dedup(same, score_col="quality").collect()
    }
    assert best_sim == {2, 4}
    best_ng = {
        r["doc_id"]
        for r in dedup.ngram_jaccard_dedup(
            docs, threshold=0.5, score_col="quality"
        ).collect()
    }
    assert best_ng == {3, 4}


def test_ann_recall_at_k_counts_overlap(spark):
    approx = spark.createDataFrame([(i,) for i in (1, 2, 3, 99)], ["vec_id"])
    exact = spark.createDataFrame([(i,) for i in (1, 2, 4, 5)], ["vec_id"])
    row = similarity.ann_recall_at_k(approx, exact).collect()[0]
    assert (row["n_exact"], row["n_hit"], row["recall"]) == (4, 2, 0.5)
    # perfect index -> recall 1.0
    row = similarity.ann_recall_at_k(exact, exact).collect()[0]
    assert row["recall"] == 1.0


def test_connected_components_driver_dispatch_matches_distributed(spark):
    """Both dispatch arms of connected_components must produce the
    SAME labels: a ragged graph (chain + triangle + isolated pair)
    resolved by the driver union-find and by the distributed loop."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        ["id_a", "id_b"],
    )
    via_driver = {
        r["node"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    via_loop = {
        r["node"]: r["component"]
        for r in dedup.connected_components(pairs, driver_threshold=0).collect()
    }
    expected = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
    assert via_driver == expected and via_loop == expected


def test_connected_components_driver_dispatch_logs(spark, caplog):
    """The driver union-find dispatch must announce itself (pair count
    + id dtype) at INFO — the observability hook for post-hoc driver
    memory-pressure debugging — and stay silent on the distributed
    arm."""
    import logging

    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    logger = "facolos_data_pipelines_spark.operators.dedup_components"
    with caplog.at_level(logging.INFO, logger=logger):
        dedup.connected_components(pairs).collect()
    hits = [
        r for r in caplog.records if "driver union-find dispatch" in r.message
    ]
    assert len(hits) == 1
    assert "2 pairs" in hits[0].message and "bigint" in hits[0].message

    caplog.clear()
    with caplog.at_level(logging.INFO, logger=logger):
        dedup.connected_components(pairs, driver_threshold=0).collect()
    assert not [
        r for r in caplog.records if "driver union-find dispatch" in r.message
    ]


def test_topk_ivfpq_rerank_refinement(spark, sf_dir):
    """IVFADC-with-refinement: exact rerank of the widened ADC
    candidate list returns true distances (matches a brute-force
    top-k over the probed cells' members for the candidate set) and
    can only improve recall vs the pure-ADC list."""
    from facolos_data_pipelines_spark.operators.similarity import (
        ann_recall_at_k,
        encode_ivfpq,
        ivf_train_lite,
        pq_train,
        topk_ivfpq,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    coarse = ivf_train_lite(emb, k=4, sample_fraction=1.0)
    cbs = pq_train(emb, num_subspaces=8, k=16, sample_fraction=1.0)
    index = encode_ivfpq(emb, coarse, cbs)
    row = emb.first()
    q = [float(x) for x in row["embedding"]]

    plain = topk_ivfpq(index, coarse, cbs, q, k=5, n_probe=4)
    reranked = topk_ivfpq(
        index, coarse, cbs, q, k=5, n_probe=4, rerank_with=emb, rerank_factor=4
    )
    got = reranked.collect()
    assert len(got) == 5 and got[0]["vec_id"] == row["vec_id"]
    # reranked distances are the EXACT squared L2 (self distance ~0)
    assert got[0]["approx_dist"] <= 1e-6
    # distances are sorted and strictly meaningful (ADC's are approximate)
    dists = [r["approx_dist"] for r in got]
    assert dists == sorted(dists)

    # recall vs the global exact top-5 never drops when reranking
    qarr = F.array(*[F.lit(x) for x in q])
    d = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            qarr,
            lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    exact = (
        emb.select("vec_id", d.alias("_d"))
        .orderBy(F.col("_d").asc(), F.col("vec_id").asc())
        .limit(5)
    )
    r_plain = ann_recall_at_k(plain, exact).first()["recall"]
    r_rerank = ann_recall_at_k(reranked, exact).first()["recall"]
    assert r_rerank >= r_plain


def test_ann_recall_at_k_empty_exact_is_zero(spark):
    from facolos_data_pipelines_spark.operators.similarity import ann_recall_at_k

    approx = spark.createDataFrame([(1,), (2,)], ["vec_id"])
    exact = approx.filter(F.col("vec_id") < 0)
    row = ann_recall_at_k(approx, exact).first()
    assert row["n_exact"] == 0 and row["recall"] == 0.0


def test_ann_recall_trained_gate_passes(spark):
    """The trained IVF-PQ + rerank path reaches useful recall
    (>= 0.8) on clusterable data — the entry-query contract."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["ann_recall_trained"](spark, "/root/testdata/sf0.001")
    row = df.first()
    assert row["n_exact"] == 10 and bool(row["meets_gate"])


def test_pq_train_empty_sample_raises(spark):
    from facolos_data_pipelines_spark.operators.similarity import pq_train

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="zero non-null"):
        pq_train(empty, sample_fraction=0.5)


def test_pca_train_properties_and_projection_parity(spark):
    """pca_train: orthonormal components, descending explained
    variance; pca_project's expression fold matches the numpy
    projection <=1e-9 (the no-runtime inference contract)."""
    import numpy as np

    from facolos_data_pipelines_spark.operators.similarity import (
        pca_project,
        pca_train,
    )

    rng = np.random.RandomState(11)
    # anisotropic: variance concentrated in 3 of 16 dims
    base = rng.randn(300, 16) * np.array([10, 6, 3] + [0.3] * 13)
    rows = [(i, [float(x) for x in base[i]]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    model = pca_train(df, n_components=4, vec_col="embedding")
    C = np.array(model["components"])
    assert C.shape == (4, 16)
    assert np.allclose(C @ C.T, np.eye(4), atol=1e-8)  # orthonormal
    evr = model["explained_variance_ratio"]
    assert all(a >= b - 1e-12 for a, b in zip(evr, evr[1:]))  # descending
    assert sum(evr) <= 1.0 + 1e-9
    assert evr[0] > 0.5  # dominant synthetic axis found

    got = {
        r["vec_id"]: np.array(r["pca"])
        for r in pca_project(df, model).select("vec_id", "pca").collect()
    }
    want = (base - np.array(model["mean"])) @ C.T
    worst = max(
        float(np.abs(got[i] - want[i]).max()) for i in range(300)
    )
    assert worst <= 1e-9, worst

    # determinism: retraining on the same data reproduces the matrix
    again = pca_train(df, n_components=4, vec_col="embedding")
    assert again["components"] == model["components"]


def test_pca_project_plan_is_narrow_and_guards_fire(spark):
    import pytest as _pytest

    from facolos_data_pipelines_spark.operators.similarity import (
        pca_project,
        pca_train,
    )

    df = spark.createDataFrame(
        [(i, [float(i), float(i % 3), 1.0, 0.0]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    model = pca_train(df, n_components=2)
    plan = pca_project(df, model)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan

    with _pytest.raises(ValueError, match="n_components"):
        pca_train(df, n_components=9)
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="zero non-null"):
        pca_train(empty, n_components=2)


def test_auto_num_planes_scaling(spark):
    """'auto' pins bucket occupancy: planes grow with log2(n), clamped
    to [6, 24]; small corpora resolve to the certified default 6 so
    oracle results are unchanged."""
    from facolos_data_pipelines_spark.operators.dedup import (
        _auto_num_planes,
        embedding_near_dup_pairs,
    )

    assert _auto_num_planes(0) == 6
    assert _auto_num_planes(2_000) == 6        # sf0.01: same as the default
    assert _auto_num_planes(20_000) == 9       # sf0.1
    assert _auto_num_planes(200_000) == 12     # sf1
    assert _auto_num_planes(2_000_000) == 15   # sf10
    assert _auto_num_planes(1 << 40) == 24     # clamp
    assert _auto_num_planes(2_000_000, target_occupancy=128) == 14

    # auto on a small frame == explicit 6 planes (bit-identical pairs)
    rows = [
        (i, [float((i * 7 + j * 3) % 13 - 6) for j in range(8)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got_auto = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            df, threshold=0.4, num_planes="auto", dim=8
        ).collect()
    }
    got_six = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            df, threshold=0.4, num_planes=6, dim=8
        ).collect()
    }
    assert got_auto == got_six

    import pytest

    with pytest.raises(ValueError, match="auto"):
        embedding_near_dup_pairs(df, num_planes="bogus", dim=8)


def test_embedding_near_dup_defaults_are_scale_safe(spark):
    """Round-8 contract: the SHIPPED DEFAULTS are the scale-safe config.
    num_planes defaults to 'auto' (>= 12 planes at 200k vectors — the
    fixed 6-plane default was measured dying quadratically at 2M). At
    oracle scale the default path must emit the SAME pair set as the
    previously-pinned 6-plane/4-band config (which the certified
    queries still pin explicitly) — tested on the real sf0.01
    embeddings table."""
    import inspect
    import os

    import pytest

    from facolos_data_pipelines_spark.operators.dedup import (
        _auto_num_planes,
        embedding_near_dup_pairs,
    )

    # the shipped defaults ARE auto
    sig = inspect.signature(embedding_near_dup_pairs)
    assert sig.parameters["num_planes"].default == "auto"
    # auto scales the signature with the corpus: >= 12 planes at 200k
    assert _auto_num_planes(200_000) >= 12

    sf001 = "/root/testdata/sf0.01/embeddings.parquet"
    if not os.path.exists(sf001):
        pytest.skip("sf0.01 testdata not present")
    emb = spark.read.parquet(sf001)

    def pairset(**kw):
        return {
            (r["id_a"], r["id_b"], round(r["cosine"], 4))
            for r in embedding_near_dup_pairs(emb, threshold=0.4, **kw).collect()
        }

    pinned = pairset(num_planes=6, num_bands=4)
    defaults = pairset()
    assert pinned, "sf0.01 fixture must produce pairs"
    assert defaults == pinned


def test_bucket_verify_arrow_never_emits_self_pairs(spark):
    """Duplicate ids sharing a bucket must not produce id_a == id_b
    rows — the verify join's strict id_a < id_b drops them."""
    from facolos_data_pipelines_spark.operators.dedup import embedding_near_dup_pairs

    v = [1.0, 0.5, -0.25, 0.125]
    rows = [(7, v), (7, v), (8, [-x for x in v])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = embedding_near_dup_pairs(
        df, threshold=0.9, num_planes=4, num_bands=2, dim=4
    ).collect()
    assert all(r["id_a"] != r["id_b"] for r in pairs), pairs


def test_ngram_containment_pairs_catches_quoted_doc(spark):
    """A short doc quoted inside a long one: containment ~1.0 while
    Jaccard is small — the pair the Jaccard operator must miss at 0.8
    and the containment operator must find."""
    from facolos_data_pipelines_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon zeta"
    long = (
        "one two three four five six seven eight nine ten "
        + short
        + " eleven twelve thirteen fourteen fifteen sixteen seventeen"
    )
    df = spark.createDataFrame(
        [(1, short), (2, long), (3, "totally different words entirely here")],
        "doc_id long, text string",
    )
    cont = ngram_containment_pairs(df, threshold=0.9, max_posting_size=None).collect()
    assert [(r["id_a"], r["id_b"], r["contained_id"]) for r in cont] == [(1, 2, 1)]
    assert cont[0]["containment"] == 1.0
    jac = ngram_jaccard_pairs(df, threshold=0.8, max_posting_size=None).collect()
    assert jac == []  # jaccard-only dedup keeps both copies

    # ties on size: contained_id is the lesser id
    df2 = spark.createDataFrame(
        [(5, "x y z w"), (6, "x y z w")], "doc_id long, text string"
    )
    r = ngram_containment_pairs(df2, threshold=0.9, max_posting_size=None).first()
    assert r["contained_id"] == 5


def test_minhash_cross_corpus_pairs_and_dedup(spark):
    """Cross-corpus near-dup: pairs connect the two sides only — two
    IDENTICAL left docs must not pair with each other; a left doc
    matching a right doc is found and dropped by cross_corpus_dedup;
    ids may collide across sides without cross-side comparison."""
    from facolos_data_pipelines_spark.operators.dedup import (
        cross_corpus_dedup,
        minhash_cross_corpus_pairs,
    )

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    other = (
        "one two three four five six seven eight nine ten eleven "
        "twelve thirteen fourteen fifteen sixteen seventeen eighteen"
    )
    left = spark.createDataFrame(
        [(1, base), (2, base), (3, "totally different words about spark")],
        "doc_id long, text string",
    )
    # right doc 1 shares an id with left doc 1 but has unrelated text —
    # the id collision must not fabricate or suppress anything
    right = spark.createDataFrame(
        [(1, other), (9, base + " omega")],
        "doc_id long, text string",
    )
    pairs = minhash_cross_corpus_pairs(
        left, right, threshold=0.8, family="xxhash"
    ).collect()
    got = {(r["left_id"], r["right_id"]) for r in pairs}
    assert got == {(1, 9), (2, 9)}, got  # both identical left docs match right 9
    assert all(r["jaccard"] >= 0.8 for r in pairs)

    survivors = {
        r["doc_id"]
        for r in cross_corpus_dedup(
            left, right, threshold=0.8, family="xxhash"
        ).collect()
    }
    assert survivors == {3}


def test_cross_corpus_pairs_empty_sides(spark):
    from facolos_data_pipelines_spark.operators.dedup import (
        minhash_cross_corpus_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert minhash_cross_corpus_pairs(docs, empty, family="xxhash").count() == 0
    assert minhash_cross_corpus_pairs(empty, docs, family="xxhash").count() == 0


def test_cross_corpus_plan_only_candidates(spark, tmp_path):
    """Under plan_only_mode the candidate set stays a pure plan (no
    checkpoint, no cache) — the dump_plans /
    write-your-own-candidate-table path — and collecting it yields the
    same pairs, with the same rounded jaccards, as the default
    checkpointed candidates."""
    from facolos_data_pipelines_spark.eager import plan_only_mode
    from facolos_data_pipelines_spark.operators.dedup import (
        minhash_cross_corpus_pairs,
    )

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    # parquet sides, so a checkpoint is the only ExistingRDD a plan can hold
    spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, "unrelated words entirely here")],
        "doc_id long, text string",
    ).write.parquet(str(tmp_path / "left"))
    spark.createDataFrame(
        [(9, base + " omega"), (10, "different right side corpus text")],
        "doc_id long, text string",
    ).write.parquet(str(tmp_path / "right"))
    left = spark.read.parquet(str(tmp_path / "left"))
    right = spark.read.parquet(str(tmp_path / "right"))

    def pairs():
        return minhash_cross_corpus_pairs(
            left, right, threshold=0.5, family="xxhash"
        )

    def rows(df):
        return sorted(
            (r["left_id"], r["right_id"], round(r["jaccard"], 6))
            for r in df.collect()
        )

    with plan_only_mode():
        lazy = pairs()
        plan = lazy._jdf.queryExecution().toString()
    assert "ExistingRDD" not in plan and "InMemoryRelation" not in plan
    checkpointed = pairs()
    assert "ExistingRDD" in checkpointed._jdf.queryExecution().toString()
    default = rows(checkpointed)
    assert rows(lazy) == default
    assert default, "expected at least one cross pair in the fixture"


def test_plan_only_mode_exposes_pre_checkpoint_plan(spark):
    """Under eager.plan_only_mode, connected_components compiles a
    full lazy plan (the pair subtree + one propagation round visible —
    no opaque ExistingRDD scan, nothing executed); outside the context
    behavior is unchanged (converged, driver-dispatched labels)."""
    from facolos_data_pipelines_spark.operators.dedup import (
        connected_components,
    )
    from facolos_data_pipelines_spark.eager import (
        plan_only_active,
        plan_only_mode,
    )

    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
        ).write.parquet(f"{tmp}/pairs")
        pairs = spark.read.parquet(f"{tmp}/pairs")
        assert not plan_only_active()
        with plan_only_mode():
            assert plan_only_active()
            lazy = connected_components(pairs)
            plan = lazy._jdf.queryExecution().toString()
            # no checkpoint boundary: the parquet source itself is
            # visible through the whole compiled plan, not an opaque
            # materialized-RDD scan
            assert "ExistingRDD" not in plan, "plan-only must not checkpoint"
            assert "parquet" in plan.lower(), "source must stay visible"
            assert "Join" in plan, "propagation round must be visible"
        assert not plan_only_active(), "mode must restore on exit"
        # real execution still converges to min-reachable labels
        got = {
            (r["node"], r["component"])
            for r in connected_components(pairs).collect()
        }
        assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


# ---------------------------------------------------------------------------
# Incremental MinHash dedup against persisted band state (round 9)


def _delta_fixture(spark):
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    other = (
        "one two three four five six seven eight nine ten eleven "
        "twelve thirteen fourteen fifteen sixteen seventeen eighteen"
    )
    corpus = spark.createDataFrame(
        [(100, base), (101, other)], "doc_id long, text string"
    )
    # 11: near-dup of history 100; 12: identical to 11 (internal dup of a
    # history loser); 13/14: internal dup pair with no history match;
    # 15: unique
    third = (
        "red orange yellow green blue indigo violet cyan magenta "
        "crimson amber teal olive maroon navy coral ivory pearl"
    )
    batch = spark.createDataFrame(
        [
            (11, base + " omega"),
            (12, base + " omega"),
            (13, third),
            (14, third + " extra"),
            (15, "totally unrelated words about spark engines"),
        ],
        "doc_id long, text string",
    )
    return corpus, batch


def test_minhash_dedup_delta_semantics(spark):
    """History kills regardless of id; the internal min-id sweep runs
    over the WHOLE batch (a history loser still kills its own batch
    near-dups); survivors are exactly what is safe to append."""
    from facolos_data_pipelines_spark.operators.dedup import (
        minhash_band_state,
        minhash_delta_pairs,
        minhash_dedup_delta,
    )

    corpus, batch = _delta_fixture(spark)
    state = minhash_band_state(corpus, family="xxhash")
    pairs = minhash_delta_pairs(
        batch, state, corpus, threshold=0.8, family="xxhash"
    ).collect()
    got = {(r["left_id"], r["right_id"]) for r in pairs}
    assert got == {(11, 100), (12, 100)}, got
    assert all(r["jaccard"] >= 0.8 for r in pairs)

    survivors = minhash_dedup_delta(
        batch, state, corpus, threshold=0.8, family="xxhash"
    )
    ids = {r["doc_id"] for r in survivors.collect()}
    # 11, 12 lose to history; 14 loses to 13 internally; 13, 15 survive
    assert ids == {13, 15}, ids

    append = minhash_band_state(survivors, family="xxhash")
    rows = append.collect()
    assert {r["doc_id"] for r in rows} == {13, 15}
    assert len(rows) == 8 * 2  # bands x survivors
    assert set(append.columns) == {"doc_id", "band_id", "band_hash"}


def test_minhash_delta_pairs_equal_cross_corpus_recompute(spark):
    """The persisted-state path is EXACTLY the recompute path: feeding
    minhash_band_state rows (round-tripped through parquet) yields the
    same verified pair set as minhash_cross_corpus_pairs signing the
    history from text."""
    import tempfile

    from facolos_data_pipelines_spark.operators.dedup import (
        minhash_band_state,
        minhash_cross_corpus_pairs,
        minhash_delta_pairs,
    )

    corpus, batch = _delta_fixture(spark)
    with tempfile.TemporaryDirectory() as tmp:
        minhash_band_state(corpus, family="xxhash").write.parquet(f"{tmp}/st")
        state = spark.read.parquet(f"{tmp}/st")
        via_state = sorted(
            (r["left_id"], r["right_id"], round(r["jaccard"], 9))
            for r in minhash_delta_pairs(
                batch, state, corpus, threshold=0.5, family="xxhash"
            ).collect()
        )
    recompute = sorted(
        (r["left_id"], r["right_id"], round(r["jaccard"], 9))
        for r in minhash_cross_corpus_pairs(
            batch, corpus, threshold=0.5, family="xxhash"
        ).collect()
    )
    assert via_state == recompute
    assert via_state, "fixture must produce cross pairs"


def test_minhash_delta_multi_cycle_loop(spark, tmp_path):
    """Three ingestion cycles with the state round-tripped through an
    appended parquet store each cycle; every cycle's survivor set must
    equal the from-scratch reference (batch-internal minhash_dedup
    intersected with cross_corpus_dedup against the ACCEPTED corpus),
    and the state row count must stay bands x accepted-docs."""
    from facolos_data_pipelines_spark.operators.dedup import (
        cross_corpus_dedup,
        minhash_band_state,
        minhash_dedup,
        minhash_dedup_delta,
    )

    sents = {
        "a": "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu",
        "b": "one two three four five six seven eight nine ten eleven twelve",
        "c": "red orange yellow green blue indigo violet cyan magenta crimson amber teal",
        "d": "north south east west up down left right front back inner outer",
    }
    cycles = [
        [(1, sents["a"]), (2, sents["b"])],
        # 3 dups cycle-1 doc 1; 4 is new; 5 dups 4 in-batch
        [(3, sents["a"] + " nu"), (4, sents["c"]), (5, sents["c"] + " olive")],
        # 6 dups cycle-2 survivor 4; 7 is new; 8 dups cycle-1 doc 2
        [(6, sents["c"]), (7, sents["d"]), (8, sents["b"] + " thirteen")],
    ]
    store = str(tmp_path / "state")
    accepted = None
    bands = 4
    for i, rows in enumerate(cycles):
        batch = spark.createDataFrame(rows, "doc_id long, text string")
        if i == 0:
            survivors = minhash_dedup(
                batch, num_hashes=16, bands=bands, family="xxhash"
            )
            minhash_band_state(
                survivors, num_hashes=16, bands=bands, family="xxhash"
            ).write.mode("overwrite").parquet(store)
            accepted = batch.join(
                survivors.select("doc_id"), "doc_id", "left_semi"
            )
            continue
        state = spark.read.parquet(store)
        survivors = minhash_dedup_delta(
            batch, state, accepted,
            num_hashes=16, bands=bands, threshold=0.8, family="xxhash",
        )
        got = {r["doc_id"] for r in survivors.collect()}
        # from-scratch reference: internal sweep over the whole batch,
        # then drop anything near-dupping the accepted corpus
        ref_internal = {
            r["doc_id"]
            for r in minhash_dedup(
                batch, num_hashes=16, bands=bands, family="xxhash"
            ).collect()
        }
        ref_cross = {
            r["doc_id"]
            for r in cross_corpus_dedup(
                batch, accepted,
                num_hashes=16, bands=bands, threshold=0.8, family="xxhash",
            ).collect()
        }
        assert got == (ref_internal & ref_cross), (i, got)
        minhash_band_state(
            survivors, num_hashes=16, bands=bands, family="xxhash"
        ).write.mode("append").parquet(store)
        accepted = accepted.unionByName(
            batch.join(survivors.select("doc_id"), "doc_id", "left_semi")
        )
    assert {r["doc_id"] for r in accepted.collect()} == {1, 2, 4, 7}
    n_accepted = accepted.count()
    assert spark.read.parquet(store).count() == bands * n_accepted


# ---------------------------------------------------------------------------
# Incremental embedding dedup against persisted band state (round 9)


def _edelta_fixture(spark):
    e1, e2, e3, e4 = (
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0],
        [0.0, 0.0, 0.0, 1.0],
    )
    hist = spark.createDataFrame(
        [(100, e1), (101, e2)], "vec_id long, embedding array<float>"
    )
    # 11/12: dups of history 100 (and of each other); 13: new, 14: a
    # scaled copy of 13 (cosine 1, internal dup); 15: new unique;
    # 16: zero-norm (no cosine to anyone -> survivor by rule)
    batch = spark.createDataFrame(
        [
            (11, e1),
            (12, e1),
            (13, e3),
            (14, [x * 2.0 for x in e3]),
            (15, e4),
            (16, [0.0, 0.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    return hist, batch


def test_embedding_dedup_delta_semantics(spark):
    """History kills regardless of id; internal min-id sweep over the
    whole batch; zero-norm vectors pass through; state append is
    bands x non-zero-norm survivors."""
    from facolos_data_pipelines_spark.operators.dedup import (
        embedding_band_state,
        embedding_delta_pairs,
        embedding_dedup_delta,
    )

    hist, batch = _edelta_fixture(spark)
    kw = dict(num_planes=6, num_bands=4, dim=4)
    state = embedding_band_state(hist, **kw)
    pairs = embedding_delta_pairs(batch, state, hist, threshold=0.95, **kw).collect()
    got = {(r["left_id"], r["right_id"]) for r in pairs}
    assert got == {(11, 100), (12, 100)}, got
    assert all(r["cosine"] >= 0.95 for r in pairs)

    surv = embedding_dedup_delta(batch, state, hist, threshold=0.95, **kw)
    ids = {r["vec_id"] for r in surv.collect()}
    # 11, 12 lose to history; 14 loses to 13 internally; 13, 15, 16 survive
    assert ids == {13, 15, 16}, ids

    app = embedding_band_state(surv, **kw)
    rows = app.collect()
    assert {r["vec_id"] for r in rows} == {13, 15}  # zero-norm 16 has no sig
    assert len(rows) == 4 * 2
    assert set(app.columns) == {"vec_id", "band", "sig"}


def test_delta_operators_leave_no_cache_behind(spark):
    """Building and collecting both delta operators leaves no cached
    RDD registered: the batch band rows are unpersisted before the
    operator returns and the candidate pairs are checkpointed, never
    cached. localCheckpoint registers its own RDD as persistent until
    the ContextCleaner reaps the frame, so those are the only entries
    the count may gain."""
    from facolos_data_pipelines_spark.operators.dedup import (
        embedding_band_state,
        embedding_dedup_delta,
        minhash_band_state,
        minhash_dedup_delta,
    )

    jsc = spark.sparkContext._jsc

    def cached() -> set:
        rdds = jsc.getPersistentRDDs()
        return {
            int(i)
            for i in rdds.keySet().toArray()
            if not rdds.get(i).rdd().isLocallyCheckpointed()
        }

    before = cached()
    corpus, batch = _delta_fixture(spark)
    state = minhash_band_state(corpus, family="xxhash")
    survivors = minhash_dedup_delta(batch, state, corpus, family="xxhash")
    assert {r["doc_id"] for r in survivors.collect()} == {13, 15}
    hist, ebatch = _edelta_fixture(spark)
    kw = dict(num_planes=6, num_bands=4, dim=4)
    esurv = embedding_dedup_delta(
        ebatch, embedding_band_state(hist, **kw), hist, threshold=0.95, **kw
    )
    assert {r["vec_id"] for r in esurv.collect()} == {13, 15, 16}
    assert cached() == before


def test_embedding_band_state_rejects_auto(spark):
    import pytest

    from facolos_data_pipelines_spark.operators.dedup import embedding_band_state

    hist, _ = _edelta_fixture(spark)
    with pytest.raises(ValueError, match="explicit int"):
        embedding_band_state(hist, num_planes="auto", dim=4)


def test_embedding_delta_pairs_equal_union_recompute(spark):
    """The persisted-state path (parquet round-trip) finds exactly the
    cross-side subset of what embedding_near_dup_pairs finds on the
    union under the same pinned plane family."""
    import tempfile

    from facolos_data_pipelines_spark.operators.dedup import (
        embedding_band_state,
        embedding_delta_pairs,
        embedding_near_dup_pairs,
    )

    hist, batch = _edelta_fixture(spark)
    kw = dict(num_planes=6, num_bands=4, dim=4)
    with tempfile.TemporaryDirectory() as tmp:
        embedding_band_state(hist, **kw).write.parquet(f"{tmp}/st")
        state = spark.read.parquet(f"{tmp}/st")
        via_state = sorted(
            (r["left_id"], r["right_id"], round(r["cosine"], 6))
            for r in embedding_delta_pairs(
                batch, state, hist, threshold=0.95, **kw
            ).collect()
        )
    union = batch.unionByName(hist)
    batch_ids = {r["vec_id"] for r in batch.select("vec_id").collect()}
    cross = sorted(
        (
            (r["id_a"], r["id_b"]) if r["id_b"] not in batch_ids else (r["id_b"], r["id_a"])
        ) + (round(r["cosine"], 6),)
        for r in embedding_near_dup_pairs(
            union, threshold=0.95, **kw
        ).collect()
        if (r["id_a"] in batch_ids) != (r["id_b"] in batch_ids)
    )
    assert via_state == cross
    assert via_state, "fixture must produce cross pairs"


def test_embedding_delta_multi_cycle_loop(spark, tmp_path):
    """Two delta cycles with the state round-tripped through an
    appended parquet store; each cycle's survivors equal the
    from-scratch reference (internal embedding_dedup of the batch,
    minus batch vectors cross-matched to the accepted corpus under the
    same pinned planes); final state rows = bands x accepted non-zero
    vectors."""
    from facolos_data_pipelines_spark.operators.dedup import (
        embedding_band_state,
        embedding_dedup,
        embedding_dedup_delta,
        embedding_delta_pairs,
    )

    kw = dict(num_planes=6, num_bands=4, dim=4)
    e = lambda i: [1.0 if j == i else 0.0 for j in range(4)]
    cycles = [
        [(1, e(0)), (2, e(1))],
        [(3, e(0)), (4, e(2)), (5, [x * 3.0 for x in e(2)])],  # 3 dups 1; 5 dups 4
        [(6, e(2)), (7, e(3)), (8, e(1))],  # 6 dups accepted 4; 8 dups accepted 2
    ]
    schema = "vec_id long, embedding array<float>"
    store = str(tmp_path / "estate")
    accepted = None
    for i, rows in enumerate(cycles):
        batch = spark.createDataFrame(rows, schema)
        if i == 0:
            surv = embedding_dedup(batch, threshold=0.95, **kw)
            embedding_band_state(surv, **kw).write.mode("overwrite").parquet(store)
            accepted = batch.join(surv.select("vec_id"), "vec_id", "left_semi")
            continue
        state = spark.read.parquet(store)
        surv = embedding_dedup_delta(batch, state, accepted, threshold=0.95, **kw)
        got = {r["vec_id"] for r in surv.collect()}
        ref_internal = {
            r["vec_id"]
            for r in embedding_dedup(batch, threshold=0.95, **kw).collect()
        }
        fresh_state = embedding_band_state(accepted, **kw)
        cross_losers = {
            r["left_id"]
            for r in embedding_delta_pairs(
                batch, fresh_state, accepted, threshold=0.95, **kw
            ).collect()
        }
        assert got == (ref_internal - cross_losers), (i, got)
        embedding_band_state(surv, **kw).write.mode("append").parquet(store)
        accepted = accepted.unionByName(
            batch.join(surv.select("vec_id"), "vec_id", "left_semi")
        )
    assert {r["vec_id"] for r in accepted.collect()} == {1, 2, 4, 7}
    assert spark.read.parquet(store).count() == 4 * accepted.count()


def _plane_reference(vec, dim, planes):
    """Per-plane reference signature: bit i = sign(vec . plane_i), the
    dot summed left to right from 0.0 as Spark's zip_with/aggregate
    fold does (same IEEE double operations, so bit-identical)."""
    sig = 0
    for i, p in enumerate(planes):
        acc = 0.0
        for x, y in zip(vec, similarity._seeded_plane(dim, p)):
            acc += float(x) * y
        if acc > 0:
            sig |= 1 << i
    return sig


def test_hyperplane_signers_equal_per_plane_reference(spark):
    """The one-literal plane-matrix fold behind hyperplane_signature and
    banded_signatures equals a per-plane reference on random vectors,
    zero vectors included, and keeps the width guard's message."""
    import numpy as np

    rng = np.random.default_rng(5)
    dim = 16
    vecs = [[float(x) for x in rng.standard_normal(dim)] for _ in range(40)]
    vecs += [[0.0] * dim, [-0.0] * dim, [float(x) * 1e-9 for x in vecs[0]]]
    emb = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<double>"
    )
    planes, bands = 7, 3
    got = {
        (r["id"], r["band"]): r["sig"]
        for r in similarity.banded_signatures(
            emb, "embedding", "vec_id", planes, bands, dim
        ).collect()
    }
    want = {
        (i, b): _plane_reference(v, dim, range(b * planes, (b + 1) * planes))
        for i, v in enumerate(vecs)
        for b in range(bands)
    }
    assert got == want
    single = emb.select(
        "vec_id",
        similarity.hyperplane_signature("embedding", planes, dim, plane_offset=2)
        .alias("s"),
    ).collect()
    assert {r["vec_id"]: r["s"] for r in single} == {
        i: _plane_reference(v, dim, range(2, 2 + planes)) for i, v in enumerate(vecs)
    }
    narrow = spark.createDataFrame([(1, [1.0, 2.0])], ["vec_id", "embedding"])
    for signed in (
        similarity.banded_signatures(narrow, "embedding", "vec_id", planes, bands, dim),
        narrow.select(similarity.hyperplane_signature("embedding", planes, dim)),
    ):
        with pytest.raises(
            Exception,
            match=f"vector width 2 != dim {dim}; pass the embedding's real dimension",
        ):
            signed.collect()


def test_hyperplane_plan_literals_do_not_grow_with_planes(spark):
    """The signing plan holds one plane-matrix literal: the analyzed
    plan's literal count is the same at 4 planes x dim 8 as at
    13 planes x dim 64 (per-plane inlined literals analyzed one node
    per double)."""

    def literals(df):
        return df._jdf.queryExecution().analyzed().toJSON().count(
            '"class":"org.apache.spark.sql.catalyst.expressions.Literal"'
        )

    counts = set()
    for planes, dim in ((4, 8), (13, 64)):
        emb = spark.createDataFrame(
            [(1, [0.5] * dim)], "vec_id long, embedding array<double>"
        )
        counts.add((
            literals(similarity.banded_signatures(emb, "embedding", "vec_id", planes, 4, dim)),
            literals(emb.select(similarity.hyperplane_signature("embedding", planes, dim))),
        ))
    assert len(counts) == 1


@pytest.mark.parametrize("family", ["multiply_add", "xxhash", "md5"])
def test_minhash_signatures_equal_per_lane_reference(docs, family):
    """The SQL-text lanes and mins equal a per-lane Column reference:
    lane i is a_i * xxhash64(shingle) + b_i (multiply_add),
    xxhash64(shingle, i) (xxhash) or md5('i:' || shingle) (md5), and
    each signature entry is the lane's min over the doc's shingles."""
    from facolos_data_pipelines_spark.operators.dedup_common import (
        _MINHASH_A,
        _MINHASH_B,
    )
    from facolos_data_pipelines_spark.operators.dedup_minhash import exploded_shingles

    n = 12
    lanes = {
        "multiply_add": lambda i: F.xxhash64("_sh") * F.lit(_MINHASH_A[i])
        + F.lit(_MINHASH_B[i]),
        "xxhash": lambda i: F.xxhash64("_sh", F.lit(i)),
        "md5": lambda i: F.md5(F.concat(F.lit(f"{i}:"), F.col("_sh"))),
    }[family]
    sh = exploded_shingles(docs, distinct=False)
    want = {
        r["doc_id"]: list(r[1:])
        for r in sh.groupBy("doc_id")
        .agg(*[F.min(lanes(i)).alias(f"h{i}") for i in range(n)])
        .collect()
    }
    got = {
        r["doc_id"]: list(r["sig"])
        for r in dedup.minhash_signatures(docs, num_hashes=n, family=family).collect()
    }
    assert got == want and len(got) == 5

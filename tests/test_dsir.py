"""DSIR importance resampling (Xie et al. 2023): hashed-ngram
log-likelihood-ratio weights and deterministic Gumbel top-k selection."""

import math

import pytest
from pyspark.sql import functions as F

from facolos_data_pipelines_spark.operators.sampling import (
    dsir_logratio_weights,
    dsir_resample,
)


def _corpus(spark):
    # two clearly separated "domains": letter-ish vs number-ish bigrams
    rows = [
        (i, f"alpha beta gamma delta epsilon token{i}", "en") for i in range(8)
    ] + [(i + 8, f"uno dos tres cuatro cinco filler{i}", "es") for i in range(8)]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang"])


def test_dsir_weights_rank_target_like_docs_higher(spark):
    docs = _corpus(spark)
    target = docs.filter(F.col("lang") == "en")
    w = dsir_logratio_weights(docs, target).collect()
    assert len(w) == 16
    by_id = {r["doc_id"]: r for r in w}
    en_scores = [by_id[i]["logratio"] for i in range(8)]
    es_scores = [by_id[i + 8]["logratio"] for i in range(8)]
    # every target-domain doc outranks every out-of-domain doc
    assert min(en_scores) > max(es_scores)
    assert all(by_id[i]["n_feats"] > 0 for i in range(16))


def test_dsir_weights_empty_doc_scores_zero_with_no_feats(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, ""), (3, "   ")], ["doc_id", "text"]
    )
    w = {
        r["doc_id"]: r
        for r in dsir_logratio_weights(docs, docs.filter("doc_id = 1")).collect()
    }
    assert w[2]["n_feats"] == 0 and w[2]["logratio"] == 0.0
    assert w[3]["n_feats"] == 0 and w[3]["logratio"] == 0.0
    assert w[1]["n_feats"] > 0


def test_dsir_weights_sum_matches_reference_model(spark):
    # tiny hand-checkable case: weights must equal the smoothed
    # bag-of-hashed-bigrams log-likelihood ratio computed in python
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "x y z"), (3, "a b")], ["doc_id", "text"]
    )
    target = docs.filter("doc_id = 1")
    B, a = 8192, 1.0
    out = {r["doc_id"]: r["logratio"] for r in
           dsir_logratio_weights(docs, target).collect()}

    import hashlib

    def bucket(g):
        return int(hashlib.md5(f"dsir:{g}".encode()).hexdigest()[:8], 16) % B

    def grams(t):
        ws = t.split()
        return ([" ".join(ws[i : i + 2]) for i in range(len(ws) - 1)]
                if len(ws) >= 2 else [" ".join(ws)] if ws else [])

    texts = {1: "a b c", 2: "x y z", 3: "a b"}
    raw, tgt = {}, {}
    for i, t in texts.items():
        for g in grams(t):
            b = bucket(g)
            raw[b] = raw.get(b, 0) + 1
            if i == 1:
                tgt[b] = tgt.get(b, 0) + 1
    tr, tt = sum(raw.values()), sum(tgt.values())
    for i, t in texts.items():
        expect = sum(
            math.log(
                ((tgt.get(bucket(g), 0) + a) / (tt + a * B))
                / ((raw.get(bucket(g), 0) + a) / (tr + a * B))
            )
            for g in grams(t)
        )
        assert out[i] == pytest.approx(round(expect + 1e-9, 4), abs=2e-4)


def test_dsir_resample_is_deterministic_topk_and_biased_to_target(spark):
    docs = _corpus(spark)
    w = dsir_logratio_weights(docs, docs.filter(F.col("lang") == "en"))
    s1 = dsir_resample(w, 6).collect()
    s2 = dsir_resample(w, 6).collect()
    assert [r["doc_id"] for r in s1] == [r["doc_id"] for r in s2]
    assert len(s1) == 6
    # scores differ by ~tens of nats between domains here, so the
    # Gumbel noise (scale ~1) cannot flip the domains: all en docs win
    assert all(r["doc_id"] < 8 for r in s1)
    keys = [r["sample_key"] for r in s1]
    assert keys == sorted(keys, reverse=True)


def test_dsir_target_filter_equals_two_frame_form(spark):
    # the tagged one-pass histogram (target_filter) must produce weights
    # IDENTICAL to filtering the target frame out of raw — including on
    # NULL-predicate docs (count_if skips NULL tags exactly as
    # filter(pred) drops them)
    docs = _corpus(spark).union(
        spark.createDataFrame([(99, "alpha beta stray", None)],
                              "doc_id bigint, text string, lang string")
    )
    two_frame = {
        (r["doc_id"], r["n_feats"], r["logratio"])
        for r in dsir_logratio_weights(
            docs, docs.filter(F.col("lang") == "en")
        ).collect()
    }
    tagged = {
        (r["doc_id"], r["n_feats"], r["logratio"])
        for r in dsir_logratio_weights(
            docs, target_filter=F.col("lang") == "en"
        ).collect()
    }
    assert tagged == two_frame


def test_dsir_target_and_filter_mutually_exclusive(spark):
    docs = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="exactly one"):
        dsir_logratio_weights(docs, docs, target_filter=F.lit(True))
    with pytest.raises(ValueError, match="exactly one"):
        dsir_logratio_weights(docs)


def test_dsir_target_filter_guards(spark):
    # ADVICE r12: the tagged pass must refuse a nondeterministic
    # predicate (re-evaluated per exploded gram row, it could tag one
    # doc's shingles differently) and a pre-existing '_is_t' column
    # (silently overwritten by the internal tag otherwise)
    docs = spark.createDataFrame([(1, "a b c"), (2, "b c d")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="deterministic"):
        dsir_logratio_weights(docs, target_filter=F.rand() > 0.5)
    tagged = docs.withColumn("_is_t", F.lit(True))
    with pytest.raises(ValueError, match="_is_t"):
        dsir_logratio_weights(tagged, target_filter=F.lit(True))


def test_exploded_shingles_rejects_reserved_carry_cols(spark):
    # ADVICE r12: a carry column colliding with the internal explode/
    # window names would silently corrupt the shingle pipeline
    from facolos_data_pipelines_spark.operators.dedup import exploded_shingles

    for name in ("_pos", "_full"):
        docs = spark.createDataFrame(
            [(1, "a b c d", 7)], ["doc_id", "text", name]
        )
        with pytest.raises(ValueError, match=f"carry_cols.*{name}"):
            exploded_shingles(docs, carry_cols=[name])


def test_dsir_validation_errors(spark):
    docs = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="smoothing"):
        dsir_logratio_weights(docs, docs, smoothing=0.0)
    with pytest.raises(ValueError, match="num_buckets"):
        dsir_logratio_weights(docs, docs, num_buckets=1)
    w = dsir_logratio_weights(docs, docs)
    with pytest.raises(ValueError, match="k must be"):
        dsir_resample(w, 0)
    with pytest.raises(ValueError, match="temperature"):
        dsir_resample(w, 1, temperature=0.0)

"""Corpus-level language-model and distribution signals: unigram /
bigram log-prob fluency scores, corpus n-gram overlap, token-length
histogram, and corpus diversity. Split from text.py; operators.text
re-exports the surface."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..eager import materialize
from .dedup import normalized_words
from .text_quality import token_count_whitespace


def unigram_logprob_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    smoothing: float = 0.5,
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram LM — the classic cheap fluency/quality signal (CCNet-style
    LM filtering with the corpus itself as the model): documents full
    of rare/out-of-distribution tokens score low, formulaic in-domain
    text scores high. Additive smoothing:
    p(w) = (count(w) + s) / (total + s * |V|).

    Plan shape: tokenize/explode is narrow; the vocabulary is one
    aggregation on the word; scoring joins tokens back to the
    vocabulary (one word-keyed shuffle — Spark injects a runtime bloom
    filter on the big side); corpus totals fold in as a 1-row
    broadcast; the per-doc mean is one id-keyed aggregation. Nothing
    driver-side, no UDFs. Documents with zero words keep their row
    with n_words=0 and a NULL score (no words ≠ fluent).
    """
    if smoothing <= 0:
        raise ValueError("unigram_logprob_scores: smoothing must be > 0")
    words = df.select(
        F.col(id_col), F.explode(normalized_words(F.col(text_col))).alias("_w")
    )
    vocab = words.groupBy("_w").agg(F.count("*").cast("long").alias("_c"))
    totals = vocab.agg(
        F.sum("_c").cast("long").alias("_total"),
        F.count("*").cast("long").alias("_v"),
    )
    lp = F.log(
        (F.col("_c") + F.lit(float(smoothing)))
        / (F.col("_total") + F.lit(float(smoothing)) * F.col("_v"))
    )
    per_doc = (
        words.join(vocab, "_w")
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.avg(lp).alias("_avg_lp"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_words"), F.lit(0).cast("long")).alias("n_words"),
            F.round(F.col("_avg_lp") + 1e-9, 4).alias("avg_logprob"),
        )
    )


def bigram_logprob_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    smoothing: float = 0.5,
) -> DataFrame:
    """Per-document mean bigram conditional log-probability
    ln p(w2|w1) under the corpus's own bigram LM — the next fluency
    notch above :func:`unigram_logprob_scores` (a unigram model can't
    tell scrambled text from prose; conditional bigram probability
    can, which is why CCNet-style pipelines score with an n-gram LM
    rather than a bag of words). Additive smoothing over the unigram
    vocabulary: p(w2|w1) = (c(w1,w2) + s) / (c(w1,·) + s * |V|),
    where c(w1,·) sums the bigram counts with context w1 and |V| is
    the corpus's distinct-word count.

    Output: (id, n_bigrams, avg_logprob) — documents with fewer than
    two words keep their row with n_bigrams=0 and a NULL score (no
    transitions, no fluency evidence), same contract as the unigram
    scorer.

    Plan shape at 100 TB: bigram pairs come from ``zip_with`` over
    the word array against its own tail — a NARROW per-row
    expression, no self-join and no positional shuffle; the bigram LM
    is one aggregation on (w1, w2), eagerly CHECKPOINTED (the count
    table is referenced twice — context rollup and scoring join — and
    without the checkpoint each reference re-embeds the corpus scan:
    the lazy plan compiled to 5 corpus scans per action, measured);
    the context rollup is bigram-table-sized, never corpus-sized.
    Scoring joins pairs back to the enriched LM (one pair-keyed
    shuffle — Spark injects a runtime bloom filter on the big side);
    |V| folds in as a 1-row broadcast; the per-doc mean is one
    id-keyed aggregation. Total corpus text scans per action: three
    (LM fit, vocabulary, scoring) plus one id-only spine. Zero UDFs,
    zero driver-side state.
    """
    from .dedup import normalized_words

    if smoothing <= 0:
        raise ValueError("bigram_logprob_scores: smoothing must be > 0")
    words = normalized_words(F.col(text_col))
    k = F.size(words)
    pair_arr = F.when(
        k >= 2,
        F.zip_with(
            F.slice(words, 1, k - 1),
            F.slice(words, 2, k - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    )
    pairs = df.select(F.col(id_col), F.explode(pair_arr).alias("_p")).select(
        F.col(id_col), F.col("_p.w1").alias("_w1"), F.col("_p.w2").alias("_w2")
    )
    bg = materialize(
        pairs.groupBy("_w1", "_w2")
        .agg(F.count("*").cast("long").alias("_c12"))
    )
    ctx = bg.groupBy("_w1").agg(F.sum("_c12").cast("long").alias("_c1"))
    lm = bg.join(ctx, "_w1")
    vocab = df.select(F.explode(words).alias("_w")).agg(
        F.count_distinct("_w").cast("long").alias("_v")
    )
    s = float(smoothing)
    lp = F.log(
        (F.col("_c12") + F.lit(s)) / (F.col("_c1") + F.lit(s) * F.col("_v"))
    )
    per_doc = (
        pairs.join(lm, ["_w1", "_w2"])
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.avg(lp).alias("_avg_lp"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_bigrams"), F.lit(0).cast("long")).alias("n_bigrams"),
            F.round(F.col("_avg_lp") + 1e-9, 4).alias("avg_logprob"),
        )
    )


def corpus_overlap(
    a: DataFrame,
    b: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 6,
) -> DataFrame:
    """Corpus-level n-gram overlap between two datasets — the mixing
    and contamination dashboard number (is dataset B new material or
    a re-crawl of A?): one row with the distinct-gram counts of each
    side, the intersection size, Jaccard, and both containments
    (|A∩B|/|A| tells you how much of A is covered by B; the
    asymmetric pair matters when the corpora differ in size).

    Plan shape at 100 TB: each corpus reduces to its DISTINCT shingle
    set (map-side partial distinct, one shuffle on the gram); the
    overlap is one gram-keyed full-outer join between the two
    distinct sets — hash-partitioned both sides, skew-free by
    construction (keys are distinct), never a broadcast requirement —
    folded into a single 1-row aggregate. Nothing scales with
    document count beyond the two distinct passes. For repeated
    monitoring, persist the distinct-gram sets and re-join only the
    deltas.
    """
    from .dedup import exploded_shingles

    def gram_set(df: DataFrame, marker: str) -> DataFrame:
        d = df
        if id_col not in d.columns:
            d = d.withColumn(id_col, F.monotonically_increasing_id())
        return (
            exploded_shingles(d, text_col, id_col, n, distinct=False)
            .select(F.col("_sh").alias("_g"))
            .distinct()
            .withColumn(marker, F.lit(1))
        )

    joined = gram_set(a, "_ina").join(gram_set(b, "_inb"), "_g", "full_outer")
    # outer coalesce: BOTH corpora empty -> the full-outer join has no
    # rows and bare sums would emit NULL counters instead of zeros
    n_a = F.coalesce(F.sum(F.coalesce("_ina", F.lit(0))), F.lit(0)).cast("long")
    n_b = F.coalesce(F.sum(F.coalesce("_inb", F.lit(0))), F.lit(0)).cast("long")
    n_common = F.coalesce(
        F.sum(
            F.when(
                F.col("_ina").isNotNull() & F.col("_inb").isNotNull(), 1
            ).otherwise(0)
        ),
        F.lit(0),
    ).cast("long")
    agg = joined.agg(
        n_a.alias("n_grams_a"), n_b.alias("n_grams_b"), n_common.alias("n_common")
    )
    union_sz = F.col("n_grams_a") + F.col("n_grams_b") - F.col("n_common")
    return agg.select(
        "n_grams_a",
        "n_grams_b",
        "n_common",
        F.round(F.col("n_common") / F.greatest(union_sz, F.lit(1)) + 1e-9, round_digits)
        .alias("jaccard"),
        F.round(
            F.col("n_common") / F.greatest(F.col("n_grams_a"), F.lit(1)) + 1e-9,
            round_digits,
        ).alias("containment_a"),
        F.round(
            F.col("n_common") / F.greatest(F.col("n_grams_b"), F.lit(1)) + 1e-9,
            round_digits,
        ).alias("containment_b"),
    )


def token_length_histogram(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Log2-bucketed whitespace-token-length histogram — the packing
    and bucketing planner's input (how many documents land in the
    128-255-token bucket decides the sequence-packing bin layout and
    the shuffle-partition sizing for length-grouped batching).

    One row per occupied bucket: ``bucket`` = floor(log2(n_tokens))
    (-1 for zero-token documents, kept explicit because empty docs
    are a data-quality signal, not a rounding artifact), the bucket's
    inclusive [lo, hi] token range, document count, and total tokens.

    The bucket index is computed with INTEGER arithmetic — the bit
    length of n via base-2 string conversion — not a float log2,
    whose values at exact powers of two are one ulp from flipping the
    floor on some platforms; bit length is exact on every engine.
    Plan shape: one narrow projection + one ~64-key groupBy
    (map-side combinable) — no join, no sort, scan-bound at any
    corpus size.
    """
    # NULL text counts as 0 tokens (size() on NULL is -1 under the
    # engine's non-ANSI casts — never let that reach the sums)
    n_tok = F.when(
        F.col(text_col).isNull(), F.lit(0)
    ).otherwise(token_count_whitespace(F.col(text_col)))
    bucket = F.when(n_tok <= 0, F.lit(-1)).otherwise(
        (F.length(F.conv(n_tok.cast("string"), 10, 2)) - 1).cast("int")
    )
    by_bucket = (
        df.select(bucket.alias("bucket"), n_tok.alias("_n"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_n").cast("long").alias("total_tokens"),
        )
    )
    # shiftleft's Python wrapper takes only literal shift amounts; the
    # SQL function shifts by a column (same workaround as bloom_bitmap)
    lo = F.when(
        F.col("bucket") >= 0,
        F.call_function("shiftleft", F.lit(1).cast("long"), F.col("bucket")),
    )
    hi = F.when(
        F.col("bucket") >= 0,
        F.call_function("shiftleft", F.lit(1).cast("long"), F.col("bucket") + 1) - 1,
    )
    return by_bucket.select(
        "bucket",
        lo.alias("lo_tokens"),
        hi.alias("hi_tokens"),
        "n_docs",
        "total_tokens",
    ).orderBy("bucket")


def corpus_diversity(
    df: DataFrame,
    by: str = "source",
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 6,
) -> DataFrame:
    """Per-group corpus diversity report: document count, total n-gram
    occurrences, distinct n-grams, and the shingle type-token ratio
    (distinct / total) — the corpus-level health number mixture
    planners watch (a source whose TTR collapses is template spam or a
    re-crawl even when every individual document passes quality
    filters; per-document repetition stats can't see cross-document
    sameness).

    Plan shape at 100 TB: one exploded pass per corpus — total counts
    are map-side combinable on the group key; the distinct count is
    one (group, gram)-keyed dedup then a group rollup. The group join
    is id-keyed against an id+group projection of the input (narrow
    columns only). Nothing quadratic, nothing driver-side.
    """
    from .dedup import exploded_shingles

    grams = exploded_shingles(df, text_col, id_col, n, distinct=False).join(
        df.select(F.col(id_col), F.col(by)), id_col
    )
    per_group = grams.groupBy(by).agg(
        F.count("*").cast("long").alias("total_grams"),
        F.count_distinct("_sh").cast("long").alias("distinct_grams"),
    )
    docs_per_group = df.groupBy(by).agg(F.count("*").cast("long").alias("n_docs"))
    return (
        docs_per_group.join(per_group, by, "left")
        .select(
            by,
            "n_docs",
            F.coalesce("total_grams", F.lit(0).cast("long")).alias("total_grams"),
            F.coalesce("distinct_grams", F.lit(0).cast("long")).alias(
                "distinct_grams"
            ),
            F.round(
                F.coalesce("distinct_grams", F.lit(0))
                / F.greatest(F.coalesce("total_grams", F.lit(0)), F.lit(1))
                + 1e-9,
                round_digits,
            ).alias("type_token_ratio"),
        )
        .orderBy(by)
    )




def corpus_gram_state(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The persisted distinct-gram state for incremental overlap
    monitoring: one ``gram`` column, one row per distinct n-shingle in
    the corpus. Write it once (bucketed by ``gram`` on a real cluster
    so the delta anti-join below is co-located and shuffle-free on the
    state side), then feed it to :func:`corpus_overlap_delta` each
    monitoring cycle instead of re-scanning the whole corpus."""
    from .dedup import exploded_shingles

    d = df
    if id_col not in d.columns:
        d = d.withColumn(id_col, F.monotonically_increasing_id())
    return (
        exploded_shingles(d, text_col, id_col, n, distinct=False)
        .select(F.col("_sh").alias("gram"))
        .distinct()
    )


def corpus_overlap_delta(
    delta: DataFrame,
    seen_grams: DataFrame,
    ref_grams: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 6,
) -> DataFrame:
    """Incremental corpus-overlap monitoring (the loop
    :func:`corpus_overlap`'s docstring sketches): given a NEW batch of
    documents, the persisted distinct-gram state of the growing corpus
    (:func:`corpus_gram_state` output, ``gram`` column), and the
    reference corpus' gram set, emit ONE row with the batch's
    incremental contribution to the overlap counters:

    - ``n_delta_grams``  — distinct grams in the batch,
    - ``n_new_grams``    — of those, grams NOT already in the seen
      state (the rows to append to the state table),
    - ``n_new_common``   — of the new grams, how many also occur in
      the reference set (the increment to ``n_common``),
    - ``new_gram_ratio`` — n_new_grams / n_delta_grams: ~0 means the
      batch is a re-crawl of material already ingested,
    - ``new_contamination`` — n_new_common / n_new_grams over the
      genuinely new material.

    The counters are associative: the monitoring loop adds
    ``n_new_grams`` / ``n_new_common`` to its running totals and
    appends the new grams to the state, so each cycle costs
    O(batch grams) + two gram-keyed joins against tables that are
    READ, never re-derived — vs :func:`corpus_overlap`'s two full
    corpus scans per cycle. At 100 TB with a gram-bucketed state
    table both joins are co-partitioned scans; nothing in the plan
    rescans old documents.

    Oracle-expressible end-to-end (distinct sets + two joins + one
    aggregate), unlike streaming state: the 'state' is just a table.
    """
    dg = corpus_gram_state(delta, n, text_col, id_col).select(
        F.col("gram").alias("_g")
    )
    seen = (
        seen_grams.select(F.col(seen_grams.columns[0]).alias("_g"))
        .distinct()
        .withColumn("_seen", F.lit(1))
    )
    ref = (
        ref_grams.select(F.col(ref_grams.columns[0]).alias("_g"))
        .distinct()
        .withColumn("_ref", F.lit(1))
    )
    joined = dg.join(seen, "_g", "left").join(ref, "_g", "left")
    new = F.col("_seen").isNull()
    # coalesce the sums: an EMPTY batch (no grams at all) must emit
    # zero counters, not NULLs — the monitoring loop adds these to
    # running totals every cycle and a quiet day is not an error
    agg = joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_delta_grams"),
        F.coalesce(F.sum(F.when(new, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_new_grams"),
        F.coalesce(
            F.sum(F.when(new & F.col("_ref").isNotNull(), 1).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("n_new_common"),
    )
    return agg.select(
        "n_delta_grams",
        "n_new_grams",
        "n_new_common",
        F.round(
            F.col("n_new_grams") / F.greatest(F.col("n_delta_grams"), F.lit(1))
            + 1e-9,
            round_digits,
        ).alias("new_gram_ratio"),
        F.round(
            F.col("n_new_common") / F.greatest(F.col("n_new_grams"), F.lit(1))
            + 1e-9,
            round_digits,
        ).alias("new_contamination"),
    )


def corpus_state_append(
    delta: DataFrame,
    seen_grams: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The rows the monitoring loop appends to the persisted gram-state
    table after a :func:`corpus_overlap_delta` cycle: the batch's
    distinct grams NOT already in ``seen_grams`` (one ``gram`` column,
    same schema as :func:`corpus_gram_state`). Count of the returned
    frame == that cycle's ``n_new_grams`` — the anti-join here and the
    ``_seen IS NULL`` arm of the delta aggregate are the same predicate,
    which is what keeps the append and the counters consistent. Same
    cost shape as the delta itself: O(batch grams) + one gram-keyed
    join against the state table (co-located when the state is
    bucketed by gram)."""
    dg = corpus_gram_state(delta, n, text_col, id_col)
    seen = seen_grams.select(
        F.col(seen_grams.columns[0]).alias("gram")
    ).distinct()
    return dg.join(seen, "gram", "left_anti")

"""Per-document text-quality signals: stopword language ID, quality
scoring, token counting, and content fingerprints (normalized hash +
rolling k-gram winnow). Split from text.py along family lines;
operators.text re-exports the surface."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import exploded_shingles, normalized_words



# Tiny high-frequency stopword lists per language — enough signal for a
# coarse n-gram/stopword language-ID heuristic (not a trained model).
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for", "was", "on", "with", "as", "this"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu", "den", "von", "auf", "im"],
    "fr": ["le", "la", "les", "et", "est", "une", "un", "des", "du", "que", "pas", "pour", "dans", "sur"],
    "es": ["el", "la", "los", "las", "y", "es", "una", "un", "de", "que", "no", "por", "para", "con"],
    "vi": ["và", "là", "của", "có", "không", "được", "cho", "trong", "một", "người", "này", "các", "với"],
}


def token_count_whitespace(text_col: str | Column) -> Column:
    """Whitespace token count (empty tokens from leading/trailing/run
    whitespace excluded)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.size(F.filter(F.split(c, r"\s+"), lambda x: x != ""))


def token_count_bpe_like(text_col: str | Column) -> Column:
    """BPE-ish subword proxy: count of letter-runs, digit-runs, and
    individual punctuation marks — the tokenization granularity most
    BPE vocabularies approximate. regexp_count keeps it one JVM pass."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.regexp_count(c, F.lit(r"[\p{L}]+|[\p{N}]+|[^\p{L}\p{N}\s]")).cast("int")


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document stats: chars, words, tokens, avg word length,
    punctuation ratio, uppercase ratio, distinct-word ratio."""
    c = F.col(text_col)
    words = normalized_words(c)
    n_chars = F.length(c)
    n_words = F.size(words)
    return df.select(
        "*",
        n_chars.alias("stat_chars"),
        n_words.alias("stat_words"),
        token_count_bpe_like(c).alias("stat_tokens"),
        (
            F.aggregate(words, F.lit(0), lambda a, w: a + F.length(w))
            / F.greatest(n_words, F.lit(1))
        ).alias("stat_avg_word_len"),
        (
            F.regexp_count(c, F.lit("[^\\p{L}\\p{N} \\t\\n\\x0B\\f\\r]"))
            / F.greatest(n_chars, F.lit(1))
        ).alias("stat_punct_ratio"),
        (F.regexp_count(c, F.lit(r"[A-Z]")) / F.greatest(n_chars, F.lit(1))).alias(
            "stat_upper_ratio"
        ),
        (F.size(F.array_distinct(words)) / F.greatest(n_words, F.lit(1))).alias(
            "stat_distinct_word_ratio"
        ),
    )


def stopword_ratio(text_col: str | Column, lang: str = "en") -> Column:
    """Fraction of words that are high-frequency stopwords of ``lang``."""
    words = normalized_words(text_col)
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    hits = F.size(F.filter(words, lambda w: F.array_contains(sw, w)))
    return hits / F.greatest(F.size(words), F.lit(1))


def detect_language(df: DataFrame, text_col: str = "text", langs: list[str] | None = None) -> DataFrame:
    """Heuristic language ID: argmax of per-language stopword-hit ratio;
    'und' (undetermined) when no language scores above zero."""
    candidates = langs or list(STOPWORDS)
    scores = F.array(
        *[
            F.struct(
                stopword_ratio(F.col(text_col), lg).alias("score"), F.lit(lg).alias("lang")
            )
            for lg in candidates
        ]
    )
    best = F.array_max(scores)
    return df.select(
        "*",
        F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und")).alias("detected_lang"),
        best["score"].alias("lang_score"),
    )


def quality_score(df: DataFrame, text_col: str = "text", lang: str = "en") -> DataFrame:
    """Composite document-quality score in [0,1] from cheap heuristics:
    reasonable length, moderate punctuation, stopword presence, lexical
    diversity — the usual pre-training corpus filters (C4-style), each
    as a clamped sub-score averaged JVM-side."""
    c = F.col(text_col)
    words = normalized_words(c)
    n_words = F.size(words)
    len_score = F.least(n_words / F.lit(50.0), F.lit(1.0))  # ramps to 1 at 50 words
    # explicit whitespace class (Java \s includes \x0B, RE2 \s does not)
    punct = F.regexp_count(c, F.lit("[^\\p{L}\\p{N} \\t\\n\\x0B\\f\\r]")) / F.greatest(
        F.length(c), F.lit(1)
    )
    punct_score = F.greatest(F.lit(0.0), F.lit(1.0) - punct * 4)  # penalize >25% punct
    sw_score = F.least(stopword_ratio(c, lang) * 4, F.lit(1.0))  # healthy prose ~25%+
    diversity = F.size(F.array_distinct(words)) / F.greatest(n_words, F.lit(1))
    return df.select(
        "*",
        ((len_score + punct_score + sw_score + diversity) / 4).alias("quality_score"),
    )


def _require_unique_ids(df: DataFrame, id_col: str, op: str) -> None:
    """Assert id_col is unique and non-null (one narrow agg over ids).

    countDistinct ignores NULLs, so any NULL or duplicate id makes
    n_rows != n_distinct; the null count is computed alongside only to
    make the error actionable."""
    row = df.select(
        F.count("*").alias("n"),
        F.countDistinct(F.col(id_col)).alias("d"),
        F.sum(F.col(id_col).isNull().cast("int")).alias("nulls"),
    ).first()
    if row["n"] != row["d"]:
        raise ValueError(
            f"{op} requires a unique, non-null id column: {id_col!r} has "
            f"{row['n']} rows but {row['d']} distinct non-null values "
            f"({row['nulls'] or 0} nulls). Duplicate ids are grouped "
            "together (mis-keyed fingerprints); null ids never join back."
        )


def _rolling_min_gram(
    df: DataFrame, text_col: str, id_col: str, hash_fn, n: int = 5
) -> DataFrame:
    """(id, fp_rolling_min) = min over rolling n-word-gram hashes: the
    :func:`~.dedup_minhash.exploded_shingles` rows (duplicates kept —
    the min absorbs them), hashed, then one per-document ``min`` that
    reuses the gram window's id shuffle. Documents shorter than n words
    hash their full word join; empty documents drop out (callers
    coalesce).
    """
    return (
        exploded_shingles(df, text_col, id_col, n, distinct=False)
        .select(id_col, hash_fn(F.col("_sh")).alias("_gh"))
        .groupBy(id_col)
        .agg(F.min("_gh").alias("fp_rolling_min"))
    )


def fingerprint(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    validate_ids: bool = False,
) -> DataFrame:
    """Content fingerprints:

    - ``fp_content``: xxhash64 of the normalized text (lowercased,
      punctuation stripped, whitespace collapsed) — exact-dup key that
      survives formatting noise;
    - ``fp_rolling_min``: min over rolling 5-word-gram hashes — a
      1-perm MinHash usable as a cheap near-dup blocking key.

    fp_content is a narrow expression; fp_rolling_min runs on the
    codegen explode path (one shuffle on ``id_col``) and joins back.
    Empty documents get ``hash('')`` for both — identical to hashing
    their (empty) word join.

    PRECONDITION: ``id_col`` must be unique and non-null — the rolling
    min is aggregated per id and joined back on it, so duplicate ids
    get a fingerprint over the union of their texts and null ids fall
    back to the empty-document hash. Pass ``validate_ids=True`` to
    assert the precondition (one extra narrow aggregation job) instead
    of trusting the caller.
    """
    if validate_ids:
        _require_unique_ids(df, id_col, "fingerprint")
    normalized = F.array_join(normalized_words(F.col(text_col)), " ")
    rolling = _rolling_min_gram(df, text_col, id_col, F.xxhash64)
    out = df.select("*", F.xxhash64(normalized).alias("fp_content")).join(
        rolling, id_col, "left"
    )
    return out.withColumn(
        "fp_rolling_min", F.coalesce(F.col("fp_rolling_min"), F.xxhash64(F.lit("")))
    )


def fingerprint_md5(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    validate_ids: bool = False,
) -> DataFrame:
    """Cross-engine-portable twin of :func:`fingerprint` using md5 hex
    strings instead of xxhash64 (md5 is bit-identical in any engine, so
    the output is oracle-checkable). Same normalization and 5-word-gram
    rolling-min structure; the min is the lexicographic min of the hex
    digests. Production pipelines should prefer :func:`fingerprint` —
    64-bit keys shuffle 4x less than hex.

    Same unique-non-null ``id_col`` precondition as :func:`fingerprint`
    (``validate_ids=True`` asserts it)."""
    if validate_ids:
        _require_unique_ids(df, id_col, "fingerprint_md5")
    normalized = F.array_join(normalized_words(F.col(text_col)), " ")
    rolling = _rolling_min_gram(df, text_col, id_col, F.md5)
    out = df.select("*", F.md5(normalized).alias("fp_content")).join(
        rolling, id_col, "left"
    )
    return out.withColumn(
        "fp_rolling_min", F.coalesce(F.col("fp_rolling_min"), F.md5(F.lit("")))
    )



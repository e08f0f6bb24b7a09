"""Text filtering signals: C4 rules, BM25 lexical retrieval, char
entropy, compression ratio, and Unicode-script composition. Split from
text.py; operators.text re-exports the surface."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import normalized_words
from .text_quality import _require_unique_ids


def c4_clean(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_line: int = 3,
    min_lines: int = 2,
    require_terminal_punct: bool = True,
) -> DataFrame:
    """C4-style hard cleanup rules (Raffel et al. 2020 §2.2) — the
    line-level and document-level DELETION pass that runs before the
    soft scoring of :func:`quality_score`:

    line rules (a line survives iff ALL hold):
      - at least ``min_words_per_line`` whitespace words;
      - ends in terminal punctuation (``. ! ? "``) when
        ``require_terminal_punct`` (C4's "terminal punctuation mark");
      - does not contain "javascript" (case-insensitive) or a curly
        brace (the code/boilerplate tells).
    document rules:
      - at least ``min_lines`` surviving lines;
      - no "lorem ipsum" anywhere (case-insensitive).

    Output: surviving docs with ``text`` REBUILT from the kept lines
    (newline-joined) plus ``n_lines_kept`` / ``n_lines_orig``. The
    whole pass is per-row array work — split, filter, rejoin — inside
    whole-stage codegen: zero shuffles, zero Python, embarrassingly
    parallel at any corpus size. Regexes stay in the RE2-portable
    subset (character classes and anchors only), so an external engine
    reproduces every keep/drop decision bit-for-bit.
    """
    if min_words_per_line < 1:
        raise ValueError("c4_clean: min_words_per_line must be >= 1")
    if min_lines < 1:
        raise ValueError("c4_clean: min_lines must be >= 1")
    lines = F.filter(
        F.transform(F.split(F.col(text_col), r"\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )

    def line_ok(l):
        n_words = F.size(F.filter(F.split(l, r"[ \t]+"), lambda w: w != ""))
        ok = n_words >= F.lit(min_words_per_line)
        if require_terminal_punct:
            ok = ok & l.rlike(r'[.!?"]$')
        return (
            ok
            & ~F.lower(l).contains("javascript")
            & ~l.contains("{")
            & ~l.contains("}")
        )

    kept = F.filter(lines, line_ok)
    out = df.select(
        "*",
        F.size(lines).alias("n_lines_orig"),
        F.size(kept).alias("n_lines_kept"),
        F.array_join(kept, "\n").alias("_clean_text"),
    )
    return (
        out.filter(
            (F.col("n_lines_kept") >= min_lines)
            & ~F.lower(F.col(text_col)).contains("lorem ipsum")
        )
        .withColumn(text_col, F.col("_clean_text"))
        .drop("_clean_text")
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 6,
) -> DataFrame:
    """Top-k documents by BM25 (Robertson/Sparck Jones, the Okapi
    formulation Lucene defaults to) for a bag of query terms — the
    lexical-retrieval primitive a curation pipeline uses to pull
    topical slices out of a corpus (and the usual hybrid partner to
    the embedding top-k in operators.similarity).

    score(d) = sum over query terms t of
        idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl)),
    idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5)),
    with tf the raw count of t in d, dl the doc's token count, avgdl
    the corpus mean. Tokenization is :func:`normalized_words` — the
    same contract as tfidf_top_terms, so lexical and TF-IDF views of
    one corpus agree on terms.

    Plan shape, in corpus-scale order: dl is a per-row ``size()``
    expression (no shuffle); the explode is filtered to the query's
    terms BEFORE the (doc, term) tf aggregation, so the shuffle
    carries only rows mentioning a query term — |query| is a literal
    handful, the filter is an in-set codegen test, and everything
    else prunes at the scan. df-per-term reduces to at most |query|
    broadcast rows; (N, avgdl) ride the SAME eager corpus pass as the
    unique-id precondition (one aggregate serves both, r13) and inline
    as literals. The final top-k is
    TakeOrderedAndProject (score desc, id asc — deterministic), never
    a global sort. Rounded to ``round_digits`` with the half-ulp
    nudge so external engines rank identically. Docs matching no
    query term score 0 and are not returned (pure selection, k rows
    max, never a corpus-sized result).
    """
    if not query_terms:
        raise ValueError("bm25_topk: query_terms must be non-empty")
    if k < 1:
        raise ValueError("bm25_topk: k must be >= 1")
    # Query terms must pass through the SAME tokenizer contract as the
    # corpus or punctuation-bearing terms ("state-of-the-art", "don't")
    # silently match nothing: normalized_words splits corpus text on
    # non-letter/digit runs, so split the query identically (Python
    # [\W_] under UNICODE == not-letter/digit, matching \p{L}\p{N}) and
    # let a phrase-like term contribute each of its tokens.
    import re as _re

    terms = sorted(
        {
            w
            for t in query_terms
            for w in _re.split(r"[\W_]+", t.lower(), flags=_re.UNICODE)
            if w
        }
    )
    if not terms:
        raise ValueError(
            f"bm25_topk: query_terms {query_terms!r} contain no "
            "letter/digit tokens after normalization"
        )
    words = docs.select(
        F.col(id_col), normalized_words(text_col).alias("_words")
    ).withColumn("_dl", F.size("_words").cast("double"))
    # ONE eager corpus pass serves both the unique-id precondition
    # (previously its own _require_unique_ids aggregate job) and the
    # (N, avgdl) statistics (previously a second in-plan corpus
    # aggregate broadcast into the score) — r13: the probe was a whole
    # extra corpus scan at 100 TB, and the collected doubles inline as
    # literals bit-identically (count/avg over the same rows, IEEE
    # round-trip through Python float).
    srow = words.agg(
        F.count("*").alias("n"),
        F.countDistinct(F.col(id_col)).alias("d"),
        F.sum(F.col(id_col).isNull().cast("int")).alias("nulls"),
        F.avg("_dl").alias("avgdl"),
    ).first()
    if srow["n"] != srow["d"]:
        # identical contract and message to _require_unique_ids
        raise ValueError(
            f"bm25_topk requires a unique, non-null id column: {id_col!r} has "
            f"{srow['n']} rows but {srow['d']} distinct non-null values "
            f"({srow['nulls'] or 0} nulls). Duplicate ids are grouped "
            "together (mis-keyed fingerprints); null ids never join back."
        )
    n_docs_lit = F.lit(float(srow["n"]))
    avgdl_lit = (
        F.lit(float(srow["avgdl"])) if srow["avgdl"] is not None
        else F.lit(None).cast("double")
    )
    tf = (
        words.select(F.col(id_col), "_dl", F.explode("_words").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy(id_col, "term")
        .agg(
            F.count("*").cast("double").alias("_tf"),
            F.first("_dl").alias("_dl"),
        )
    )
    df_t = tf.groupBy("term").agg(F.count("*").cast("double").alias("_df"))
    idf = F.log(
        1.0 + (n_docs_lit - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
    )
    term_score = idf * (
        F.col("_tf")
        * (k1 + 1.0)
        / (
            F.col("_tf")
            + k1 * (1.0 - b + b * F.col("_dl") / avgdl_lit)
        )
    )
    return (
        tf.join(F.broadcast(df_t), "term")
        .groupBy(id_col)
        .agg(
            F.round(F.sum(term_score) + 1e-9, round_digits).alias("bm25"),
            F.count("*").cast("long").alias("n_terms_matched"),
        )
        .orderBy(F.col("bm25").desc(), F.col(id_col).asc())
        .limit(k)
    )


def char_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_chars: int = 20_000,
    round_digits: int = 4,
) -> DataFrame:
    """Per-document Shannon entropy of the character distribution, in
    bits — the cheap randomness probe that separates natural prose
    (English ~4.1 bits/char over its alphabet) from the two junk tails
    a pre-training corpus filter must catch: degenerate repetition
    (entropy → 0: padding runs, boilerplate loops) and high-entropy
    noise (base64 blobs, minified bundles, random keys → 5.5+ bits).
    The compression-twin signal is :func:`compression_ratio`; entropy
    is the engine-portable one (oracle-checkable), compression the
    byte-exact one.

    Returns (id, ``n_chars``, ``n_distinct_chars``, ``entropy``).
    Entropy = -sum over distinct chars c of p(c) * log2 p(c), computed
    over the first ``max_chars`` characters (a quality signal does not
    need the whole 10 MB document; truncation bounds the per-row cost
    and the oracle twin truncates identically). Empty/NULL text scores
    entropy 0 with n_chars 0.

    One shuffle-free ``mapInPandas`` pass, numpy codepoint bincount per
    doc — ~10 ns/char, O(len) per row. Each doc's float sum runs in
    codepoint order (DuckDB sums in its list order): ~1e-15 noise the
    half-ulp nudge + ``round_digits`` rounding absorbs.
    """
    id_type = df.schema[id_col].dataType.simpleString()
    schema = (
        f"{id_col} {id_type}, n_chars long, n_distinct_chars long, "
        "entropy double"
    )

    def run(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, nch, ndc, ent = [], [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                s = ("" if t is None else str(t))[:max_chars]
                ids.append(i)
                if not s:
                    nch.append(0)
                    ndc.append(0)
                    ent.append(0.0)
                    continue
                codes = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)
                counts = np.unique(codes, return_counts=True)[1]
                p = counts / counts.sum()
                nch.append(len(codes))
                ndc.append(len(counts))
                ent.append(
                    round(float(-(p * np.log2(p)).sum()) + 1e-9, round_digits)
                )
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "n_chars": nch,
                    "n_distinct_chars": ndc,
                    "entropy": ent,
                }
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(run, schema)


def compression_ratio(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compression ratio — the byte-exact twin of
    :func:`char_entropy` and the filter CCNet/Gopher-style pipelines
    apply directly: ``ratio = deflated_bytes / raw_bytes``. Natural
    prose lands ~0.3–0.5; heavy repetition collapses toward 0 (the
    low-quality tail); incompressible noise (base64, random blobs,
    already-compressed payloads pasted as text) pushes past ~0.9.

    Returns (id, ``n_bytes`` of UTF-8 raw, ``n_compressed``,
    ``ratio``). Empty/NULL text reports ratio 1.0 with n_bytes 0 (no
    evidence either way — the neutral value no threshold fires on).

    Python is unavoidable here (no JVM-side zlib expression), so the
    rows move ONCE through Arrow batches (``mapInPandas``) and the
    work is a C-speed ``zlib.compress`` per document — no shuffle, no
    per-row Python overhead beyond the call itself. zlib's output for
    a fixed ``level`` is deterministic for a given zlib build, but the
    BYTES are not a cross-engine contract — hence no DuckDB oracle
    (rows-only check), while the entropy twin carries the hash-checked
    oracle for the same quality dimension.
    """
    if not 0 <= level <= 9:
        raise ValueError(f"compression_ratio: level={level}; expected 0..9")
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, n_bytes long, n_compressed long, ratio double"

    def run(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            ids, nb, nc, ratio = [], [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                raw = ("" if t is None else str(t)).encode("utf-8")
                comp = zlib.compress(raw, level)
                ids.append(i)
                nb.append(len(raw))
                nc.append(len(comp))
                ratio.append(len(comp) / len(raw) if raw else 1.0)
            yield pd.DataFrame(
                {id_col: ids, "n_bytes": nb, "n_compressed": nc, "ratio": ratio}
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(run, schema)


def script_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_chars: int = 20_000,
    mixed_threshold: float = 0.15,
    round_digits: int = 4,
) -> DataFrame:
    """Per-document Unicode-script composition — the routing/filtering
    signal a multilingual corpus pipeline applies before (or beside)
    n-gram language ID: fractions of Latin / Cyrillic / Han / Arabic /
    Devanagari characters plus digits, a ``dominant_script`` label,
    and an ``is_mixed`` flag for the script-salad junk (spam that
    interleaves scripts to evade filters, mojibake, wrong-decode
    artifacts) that language-ID models misclassify rather than reject.

    Denominator is NON-WHITESPACE characters of the first
    ``max_chars`` (the explicit class ``[ \\t\\n\\r\\f]`` — identical
    in Java regex and RE2, unlike ``\\s``). ``other_frac`` covers
    punctuation, symbols, and scripts outside the tracked five.
    ``dominant_script`` picks the max-count tracked script (fixed
    priority order on ties, 'none' when no tracked script appears);
    ``is_mixed`` fires when the tracked-script mass OUTSIDE the
    dominant one exceeds ``mixed_threshold`` of the text.

    Cost shape: zero shuffles, zero Python — a handful of
    ``regexp_count`` per row, embarrassingly parallel; the script
    classes are chosen because Java regex (``\\p{IsLatin}``) and RE2
    (``\\p{Latin}``) count them identically, which is what the DuckDB
    twin certifies. Fractions are ratios of integers, so cross-engine
    equality is exact (the shared rounding is cosmetic).
    """
    base = F.substring(F.coalesce(F.col(text_col), F.lit("")), 1, max_chars)
    scripts = {
        "latin": r"\p{IsLatin}",
        "cyrillic": r"\p{IsCyrillic}",
        "han": r"\p{IsHan}",
        "arabic": r"\p{IsArabic}",
        "devanagari": r"\p{IsDevanagari}",
    }
    counts = {k: F.regexp_count(base, F.lit(p)) for k, p in scripts.items()}
    digit = F.regexp_count(base, F.lit("[0-9]"))
    n = F.length(base) - F.regexp_count(base, F.lit(r"[ \t\n\r\f]"))
    nd = F.greatest(n, F.lit(1)).cast("double")
    script_sum = sum(counts.values())
    top = F.greatest(*counts.values())
    dominant = F.lit("none")
    for name in reversed(list(scripts)):  # earlier names win ties
        dominant = F.when(
            (counts[name] > 0) & (counts[name] == top), F.lit(name)
        ).otherwise(dominant)
    frac = lambda c: F.round(c / nd + 1e-9, round_digits)  # noqa: E731
    return df.select(
        F.col(id_col),
        n.cast("long").alias("n_chars"),
        *[frac(counts[k]).alias(f"{k}_frac") for k in scripts],
        frac(digit).alias("digit_frac"),
        frac(n - script_sum - digit).alias("other_frac"),
        dominant.alias("dominant_script"),
        ((script_sum - top) / nd > mixed_threshold).alias("is_mixed"),
    )

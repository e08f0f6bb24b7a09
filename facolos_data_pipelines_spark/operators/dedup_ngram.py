"""Token-level dedup: exact n-gram Jaccard / containment pairs over an
inverted index, CCNet-style line-level dedup, and Lee-et-al duplicate
spans. Split from dedup.py; operators.dedup re-exports the surface."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup_components import _drop_pair_losers
from .dedup_minhash import _word_gram_rows, exploded_shingles, normalized_words


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, inverted-index blocked)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_posting_size: int | None = 10_000,
) -> DataFrame:
    """Exact n-gram Jaccard pairs >= threshold, no MinHash approximation.

    Candidate generation by inverted index: docs sharing at least
    ``ceil(threshold * |smaller set|)`` shingles must share >= 1, so a
    join on exploded (shingle -> id) postings finds every qualifying
    pair; shared-shingle counts come back from the same join (one
    aggregation), and Jaccard is |A∩B| / (|A|+|B|-|A∩B|) without
    re-touching the texts.

    The posting-list self-join costs Σ_shingle freq² — one viral
    boilerplate shingle shared by 10^6 docs alone is 10^12 candidate
    pairs. ``max_posting_size`` (default 10k) therefore caps each
    shingle's posting list in-plan (``skew.cap_group_size`` on the
    shingle key, deterministic id order; the window shares the join's
    shuffle partitioning). Results are EXACT whenever no posting list
    exceeds the cap; beyond it, a capped shingle pairs only its first
    ``max_posting_size`` docs and its contribution to |A∩B| is
    under-counted — strictly conservative (never a false duplicate).
    Pass ``None`` for fully exact semantics regardless of skew.
    Doc sizes |A| are always computed from the uncapped postings.
    """
    jac = F.col("_shared") / (F.col("sz_a") + F.col("sz_b") - F.col("_shared"))
    return (
        _shared_gram_pairs(df, text_col, id_col, shingle_n, max_posting_size)
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _shared_gram_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    max_posting_size: int | None,
) -> DataFrame:
    """(id_a, id_b, _shared, sz_a, sz_b) for every doc pair (id_a <
    id_b) sharing at least one distinct shingle: the posting-list self
    join under the ``max_posting_size`` cap, the shared count from one
    pair aggregation, and each side's distinct-shingle count from the
    uncapped postings."""
    sh = exploded_shingles(df, text_col, id_col, shingle_n, distinct=True)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("_sz"))
    if max_posting_size is not None:
        from .skew import cap_group_size

        posted = cap_group_size(sh, ["_sh"], max_posting_size, order_col=id_col)
    else:
        posted = sh
    a = posted.select(F.col(id_col).alias("id_a"), "_sh")
    b = posted.select(F.col(id_col).alias("id_b"), "_sh")
    shared = (
        a.join(b, ["_sh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_shared"))
    )
    return shared.join(
        sizes.select(F.col(id_col).alias("id_a"), F.col("_sz").alias("sz_a")), "id_a"
    ).join(
        sizes.select(F.col(id_col).alias("id_b"), F.col("_sz").alias("sz_b")), "id_b"
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_posting_size: int | None = 10_000,
) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs — |A∩B| / min(|A|, |B|) >=
    threshold. The asymmetric companion to :func:`ngram_jaccard_pairs`:
    a short document quoted wholesale inside a long one has containment
    ~1.0 but Jaccard ~|short|/|long| ~ 0, so Jaccard-only dedup keeps
    both copies of the quoted text (the RefinedWeb/Dolma pipelines drop
    contained documents as a separate pass for exactly this reason).

    Output: (id_a, id_b, containment, contained_id) with id_a < id_b;
    ``contained_id`` is the SMALLER document (fewer distinct shingles,
    lesser id on ties) — the one a drop-contained policy removes.

    Plan shape: identical to the Jaccard twin — inverted-index posting
    join with the in-plan ``max_posting_size`` cap (conservative
    under-count when capped, never a false positive), shared counts and
    both sizes from the same aggregation, no re-touching of texts. One
    extra comparison picks the contained side; at 100 TB the cost
    profile is the Jaccard operator's, bit for bit.
    """
    containment = F.col("_shared") / F.least(F.col("sz_a"), F.col("sz_b"))
    contained = F.when(F.col("sz_a") < F.col("sz_b"), F.col("id_a")).otherwise(
        F.when(F.col("sz_b") < F.col("sz_a"), F.col("id_b")).otherwise(
            F.least(F.col("id_a"), F.col("id_b"))
        )
    )
    return (
        _shared_gram_pairs(df, text_col, id_col, shingle_n, max_posting_size)
        .select(
            "id_a",
            "id_b",
            containment.alias("containment"),
            contained.alias("contained_id"),
        )
        .filter(F.col("containment") >= threshold)
    )


def ngram_jaccard_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    transitive: bool = False,
    max_posting_size: int | None = 10_000,
    score_col: str | None = None,
    descending: bool = True,
) -> DataFrame:
    """Exact Jaccard near-dedup: drop the higher id of each pair >=
    threshold (or, with ``transitive=True``, keep one doc per
    single-link component; with ``score_col``, the best-scoring
    member of each component survives instead of the min id). The
    exact twin of :func:`minhash_dedup` (which trades exactness for
    bucket-local comparisons). ``max_posting_size`` bounds
    viral-shingle blowup (see :func:`ngram_jaccard_pairs`); ``None``
    restores unconditional exactness."""
    pairs = ngram_jaccard_pairs(
        df, text_col, id_col, shingle_n, threshold, max_posting_size
    )
    return _drop_pair_losers(
        df, pairs, id_col, transitive, score_col=score_col, descending=descending
    )


# ---------------------------------------------------------------------------
# Line-level (CCNet-style) corpus dedup
# ---------------------------------------------------------------------------

def _quote_sep(sep: str) -> str:
    """``sep`` is a LITERAL separator; ``F.split`` takes a Java regex,
    so quote it (\\Q…\\E) — '.' must mean a period, not any-char."""
    return "\\Q" + sep + "\\E"


def line_frequencies(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """(line, n_docs) — how many DISTINCT documents contain each
    non-empty trimmed line. The corpus-statistics half of
    :func:`line_dedup`, exposed separately so a precomputed frequency
    table can be reused across incremental batches.

    One shuffle, on the line value, with partial aggregation; hot
    boilerplate lines ("Subscribe to our newsletter") are exactly the
    high-frequency groups partial agg collapses map-side. At trillions
    of lines, group on ``xxhash64(line)`` instead to shuffle 8 bytes a
    line — kept on the raw string here so external engines reproduce
    the table byte-for-byte."""
    lines = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), _quote_sep(sep), -1)).alias("_l"),
    ).select(F.col(id_col), F.trim(F.col("_l")).alias("line"))
    return (
        lines.filter(F.col("line") != "")
        .groupBy("line")
        .agg(F.countDistinct(F.col(id_col)).cast("long").alias("n_docs"))
    )


def line_doc_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """Distinct (line, doc id) pairs — the MERGEABLE state behind
    incremental line frequencies. COUNT(DISTINCT doc) is not foldable
    from per-batch counts (a doc id may recur across batches), but the
    distinct pair set is: union the persisted pair table with a new
    batch's pairs, re-distinct, and :func:`pairs_to_frequencies` gives
    corpus-exact counts — per cycle cost O(batch lines + touched
    groups), never O(corpus). For approximate-tolerant corpora, a
    per-line HLL sketch (merge.merge_distinct_sketch) shrinks the
    state to one sketch per line."""
    lines = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.col(text_col), _quote_sep(sep), -1)).alias("_l"),
    ).select(F.col("doc"), F.trim(F.col("_l")).alias("line"))
    return lines.filter(F.col("line") != "").dropDuplicates(["line", "doc"])


def pairs_to_frequencies(pairs: DataFrame) -> DataFrame:
    """Fold a (line, doc) pair table into the (line, n_docs) frequency
    schema :func:`line_dedup` consumes. Pairs must already be distinct
    (:func:`line_doc_pairs` output, or a union of such tables after
    ``dropDuplicates``)."""
    return pairs.groupBy("line").agg(F.count("*").cast("long").alias("n_docs"))


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_docs: int | float = 2,
    frequencies: DataFrame | None = None,
    corpus_docs: int | None = None,
) -> DataFrame:
    """CCNet-style line-level corpus dedup: drop from every document
    each line whose trimmed form occurs in >= ``min_docs`` distinct
    documents (cross-document boilerplate — headers, nav bars, cookie
    banners), then reassemble the survivors in original order.

    ``min_docs`` accepts an absolute count (int >= 1) or a corpus
    FRACTION (float in (0, 1)): a fraction is resolved IN-PLAN against
    the corpus document count (1-row aggregate, broadcast into the
    boilerplate filter — no driver collect), so the same pipeline
    definition scales from a 500-doc test corpus to 10^9 documents
    without retuning an absolute threshold. With a precomputed
    ``frequencies`` table, ``df`` may be one small batch of a much
    larger corpus, so a fractional threshold cannot be resolved from
    ``df`` — pass ``corpus_docs`` (the document count the frequency
    table was built over) explicitly, or the call raises.

    Output: (id, clean_text, n_lines_kept, n_lines_dropped). Documents
    whose every line is boilerplate remain as rows with an empty
    ``clean_text`` — dropping documents is a separate quality-filter
    decision (compose with a length filter).

    Plan shape: split/posexplode is narrow; the frequency table
    (:func:`line_frequencies`) costs one shuffle on the line value;
    tagging lines is one more line-keyed join (Spark ≥3.4 injects a
    runtime bloom filter on the big side automatically); reassembly is
    one shuffle on the doc id with ``array_sort`` over (pos, line)
    structs restoring order deterministically. Empty/whitespace lines
    carry no boilerplate signal and are always kept (they preserve
    paragraph structure), matching CCNet's non-empty-line hashing.

    ``frequencies`` accepts a precomputed/persisted line-frequency
    table (same schema as :func:`line_frequencies`) so the corpus
    statistics can be built once and reused across runs. Note the
    distinct-document count is NOT foldable from per-batch counts
    alone (the same doc id may recur across batches): persist the
    distinct (line, doc) pair set instead (:func:`line_doc_pairs` →
    union → :func:`pairs_to_frequencies`, proven equal to the full
    recompute in tests) or a mergeable HLL sketch per line
    (merge.merge_distinct_sketch) when approximate frequencies are
    acceptable.
    """
    fractional = isinstance(min_docs, float) and not isinstance(min_docs, bool)
    if fractional:
        if not (0.0 < min_docs < 1.0):
            raise ValueError(
                "line_dedup: fractional min_docs must be in (0, 1) exclusive; "
                "pass an int for an absolute document count"
            )
        if frequencies is not None and corpus_docs is None:
            raise ValueError(
                "line_dedup: a fractional min_docs with a precomputed "
                "frequencies table needs corpus_docs (the document count the "
                "table was built over) — df may be one batch of a larger "
                "corpus, so its own count would resolve the wrong threshold"
            )
        if corpus_docs is not None and corpus_docs < 1:
            raise ValueError(
                f"line_dedup: corpus_docs={corpus_docs} must be >= 1 — a "
                "non-positive count would resolve the threshold to <= 0 and "
                "silently classify EVERY line as boilerplate"
            )
    elif min_docs < 1:
        raise ValueError("line_dedup: min_docs must be >= 1")
    # NULL text is treated as the empty document (split of NULL explodes
    # to zero rows, which would silently DROP the doc from the output)
    text = F.coalesce(F.col(text_col), F.lit(""))
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(text, _quote_sep(sep), -1)).alias("_pos", "_raw"),
    ).select(
        F.col(id_col), F.col("_pos"), F.col("_raw"), F.trim(F.col("_raw")).alias("line")
    )
    freq = (
        frequencies
        if frequencies is not None
        else line_frequencies(df, text_col, id_col, sep)
    )
    if fractional:
        if corpus_docs is not None:
            boiler = freq.filter(
                F.col("n_docs") >= F.lit(min_docs) * F.lit(corpus_docs)
            ).select("line")
        else:
            total = df.agg(F.countDistinct(F.col(id_col)).alias("_n_corpus"))
            boiler = (
                freq.crossJoin(F.broadcast(total))
                .filter(F.col("n_docs") >= F.lit(min_docs) * F.col("_n_corpus"))
                .select("line")
            )
    else:
        boiler = freq.filter(F.col("n_docs") >= min_docs).select("line")
    tagged = lines.join(
        boiler.withColumn("_drop", F.lit(True)),
        "line",
        "left",
    ).select(
        F.col(id_col),
        "_pos",
        "_raw",
        (F.col("_drop").isNotNull() & (F.col("line") != "")).alias("_is_boiler"),
    )
    kept = tagged.filter(~F.col("_is_boiler"))
    # matching is on the TRIMMED line; reassembly keeps the original
    # raw line so surviving text is byte-identical to the input
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("_pos"), F.col("_raw")))
                ),
                lambda s: s["_raw"],
            ),
            sep,
        ).alias("clean_text"),
        F.count("*").cast("long").alias("n_lines_kept"),
    )
    totals = lines.groupBy(id_col).agg(F.count("*").cast("long").alias("_n_total"))
    # left join from totals: a fully-boilerplate document still gets a row
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_lines_kept"), F.lit(0).cast("long")).alias(
                "n_lines_kept"
            ),
            (F.col("_n_total") - F.coalesce(F.col("n_lines_kept"), F.lit(0)))
            .cast("long")
            .alias("n_lines_dropped"),
        )
    )


# ---------------------------------------------------------------------------
# Substring-level duplication (Lee et al. 2022 — duplicated spans)
# ---------------------------------------------------------------------------

def _positioned_grams(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, _pos, _nw, _sh) — the gram rows of :func:`exploded_shingles`
    (full grams plus a short document's whole word join) with their
    start position and the document's word count ``_nw``, taken over
    every word position before the full-gram filter."""
    return (
        _word_gram_rows(df, text_col, id_col, n)
        .withColumn("_nw", F.max("_pos").over(Window.partitionBy(id_col)) + 1)
        .filter(F.col("_full") | (F.col("_pos") == 0))
        .select(id_col, "_pos", "_nw", "_sh")
    )


def duplicate_gram_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Maximal duplicated-substring spans per document: every maximal
    run of word positions covered by ``n``-word grams that appear in at
    least ``min_docs`` distinct documents (the span-level view of
    "Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2022 — which removes duplicated *substrings*, not whole
    documents; a suffix array finds exact maximal matches, this n-gram
    formulation finds every duplicated run of >= n words, the same
    operating point at a join-friendly cost).

    Returns (id, span_start, span_end, n_dup_grams): word-index bounds
    (inclusive, 0-based over the normalized word sequence) and how many
    duplicated grams the span merges. Documents shorter than ``n``
    words participate as a single whole-document gram (the shared
    shingle fallback), with the span end capped at their last word.

    Plan: :func:`_positioned_grams` builds positioned grams on the
    shared gram rows (one shuffle on id, codegen); gram
    frequency is one groupBy on the gram string with a distinct-doc
    count (map-side partial agg); marked positions shuffle back to
    their document for the gaps-and-islands merge (second id shuffle,
    reusing the first's partitioning). Two shuffles total, both on
    bounded keys; no self-join, so viral boilerplate grams cost their
    posting list ONCE (linear), unlike pair enumeration.
    """
    grams = _positioned_grams(df, text_col, id_col, n)
    dup = (
        grams.groupBy("_sh")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_sh")
    )
    marked = grams.join(dup, "_sh").select(id_col, "_pos", "_nw")
    order_win = Window.partitionBy(id_col).orderBy("_pos")
    gap = F.col("_pos") - F.lag("_pos").over(order_win)
    islands = marked.withColumn(
        "_brk", F.when(gap > n, 1).otherwise(0)
    ).withColumn("_island", F.sum("_brk").over(order_win))
    return (
        islands.groupBy(id_col, "_island")
        .agg(
            F.min("_pos").alias("span_start"),
            F.least(F.max("_pos") + n - 1, F.max("_nw") - 1).alias("span_end"),
            F.count("*").cast("long").alias("n_dup_grams"),
        )
        .drop("_island")
    )


def substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 10,
    max_coverage: float = 0.5,
    min_docs: int = 2,
) -> DataFrame:
    """Drop documents whose duplicated-span coverage exceeds
    ``max_coverage`` of their words — the document-level action on
    :func:`duplicate_gram_spans` (Lee et al. remove the spans
    themselves; for pre-training curation the common batch policy is
    to drop documents that are mostly duplicated material and keep the
    rest intact, preserving document coherence).

    Adds nothing to the span plan but one per-doc span-length sum and
    an id anti-join; word counts ride along from the span stage.
    """
    spans = duplicate_gram_spans(df, text_col, id_col, n, min_docs)
    words = df.select(
        F.col(id_col), F.size(normalized_words(text_col)).alias("_nw")
    ).filter(F.col("_nw") > 0)
    coverage = (
        spans.groupBy(id_col)
        .agg(F.sum(F.col("span_end") - F.col("span_start") + 1).alias("_covered"))
        .join(words, id_col)
        .filter(F.col("_covered") / F.col("_nw") > max_coverage)
        .select(id_col)
    )
    return df.join(coverage, id_col, "left_anti")


def strip_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 10,
    min_docs: int = 2,
    keep_first_doc: bool = True,
) -> DataFrame:
    """Remove duplicated substrings and rebuild the text — the actual
    removal action of Lee et al. 2022 ("deduplicating training data":
    delete all but one occurrence of each duplicated span, leaving the
    rest of the document intact), where :func:`duplicate_gram_spans`
    only reports and :func:`substring_dedup` drops whole documents.

    A word position is removed when some duplicated ``n``-gram covers
    it; with ``keep_first_doc=True`` (default) the document with the
    SMALLEST id containing a given gram keeps its occurrence — the
    "all but one" policy, with the deterministic min-id owner playing
    the survivor role the pair-dedup family gives to the min id.
    ``keep_first_doc=False`` removes every occurrence everywhere (the
    boilerplate-scrub policy: ads, headers, license blocks).

    Returns (id, clean_text, n_words_kept, n_words_removed) over the
    NORMALIZED word sequence (lowercased, punctuation stripped — the
    same canonical form every dedup operator here hashes; original
    formatting inside kept regions is not preserved).

    Plan: the gram stage is the duplicate_gram_spans explode (one id
    shuffle); ownership is the same gram-frequency aggregate extended
    with ``min(id)`` (no extra shuffle); covered positions explode from
    marked grams and dedup per (id, pos); the rebuild is one per-doc
    sort-and-join aggregate reusing the id partitioning. No self-join
    anywhere — boilerplate grams stay linear in their posting lists.
    """
    w = df.select(
        F.col(id_col), F.posexplode(normalized_words(text_col)).alias("_pos", "_w")
    )
    grams = _positioned_grams(df, text_col, id_col, n)
    dup = (
        grams.groupBy("_sh")
        .agg(
            F.countDistinct(id_col).alias("_nd"),
            F.min(id_col).alias("_owner"),
        )
        .filter(F.col("_nd") >= min_docs)
        .select("_sh", "_owner")
    )
    marked = grams.join(dup, "_sh")
    if keep_first_doc:
        marked = marked.filter(F.col(id_col) != F.col("_owner"))
    covered = (
        marked.select(
            F.col(id_col),
            F.explode(
                F.sequence(
                    F.col("_pos"),
                    F.least(F.col("_pos") + n - 1, F.col("_nw") - 1),
                )
            ).alias("_pos"),
        )
        .dropDuplicates([id_col, "_pos"])
    )
    kept = w.join(covered, [id_col, "_pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_w"))),
                lambda s: s["_w"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").cast("long").alias("n_words_kept"),
    )
    totals = w.groupBy(id_col).agg(F.count("*").cast("long").alias("_n_total"))
    # left join from totals: a fully-duplicated document still gets a row
    return totals.join(rebuilt, id_col, "left").select(
        F.col(id_col),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_words_kept", F.lit(0).cast("long")).alias("n_words_kept"),
        (F.col("_n_total") - F.coalesce("n_words_kept", F.lit(0)))
        .cast("long")
        .alias("n_words_removed"),
    )

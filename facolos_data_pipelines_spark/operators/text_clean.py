"""Corpus cleaning and preparation: chunking, PII redaction,
repetition stats, benchmark decontamination (exact grams + Bloom
bitmap), top n-grams, TF-IDF terms, and sequence packing. Split from
text.py; operators.text re-exports the surface."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame
from .dedup import exploded_shingles, normalized_words
from .dedup_minhash import _word_gram_rows
from .text_lm import corpus_gram_state
from .text_quality import _require_unique_ids, token_count_whitespace


# ---------------------------------------------------------------------------
# Chunking + PII redaction (training-data preparation)
# ---------------------------------------------------------------------------

def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    context-window preparation step of an LLM training pipeline.

    Whitespace tokens; chunk c covers tokens [c*stride, c*stride +
    chunk_tokens) with stride = chunk_tokens - overlap; the number of
    chunks is ceil((n - overlap) / stride) (min 1), so every token is
    covered and consecutive chunks share ``overlap`` tokens. Documents
    with no tokens emit no chunks.

    Output: (id_col, chunk_id, chunk_text, n_tokens). Pure narrow
    Spark (split + sequence + explode + slice): no shuffle, no UDF —
    chunking 100 TB is map-side work. All arithmetic is integer/double
    ops an external SQL oracle reproduces exactly.
    """
    if overlap >= chunk_tokens:
        raise ValueError(
            f"overlap={overlap} must be smaller than chunk_tokens={chunk_tokens}"
        )
    stride = chunk_tokens - overlap
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    n = F.size(toks)
    num_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)) / F.lit(float(stride))).cast("int"), F.lit(1)
    )
    base = df.select(F.col(id_col), toks.alias("_t"), num_chunks.alias("_nc")).filter(
        F.size("_t") > 0
    )
    exploded = base.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.col("_nc") - 1)).alias("chunk_id"),
        "_t",
    )
    piece = F.slice(F.col("_t"), F.col("chunk_id") * stride + 1, chunk_tokens)
    return exploded.select(
        F.col(id_col),
        F.col("chunk_id"),
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).cast("long").alias("n_tokens"),
    )


#: PII patterns applied in order by redact_pii. Deliberately limited to
#: RE2-compatible syntax (no lookaround, no backrefs) so external
#: engines (DuckDB/Trino/Go) reproduce the redaction byte-for-byte.
PII_PATTERNS: list[tuple[str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"),
    ("phone", r"\+?[0-9][0-9()\- ]{6,}[0-9]"),
]


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    replacement: str = "[REDACTED]",
    out_col: str = "clean_text",
    with_counts: bool = True,
) -> DataFrame:
    """Scrub common PII (emails, IPv4 addresses, phone-like digit runs)
    from a text column — standard hygiene before training-data release.

    Patterns apply in PII_PATTERNS order (email before phone, so a
    phone-like digit run inside an address local-part is already gone).
    ``with_counts`` adds an ``n_<name>`` column per pattern counting
    matches in the ORIGINAL text. Narrow per-row regexp work, zero
    shuffle; counts and replacement are reproducible in any RE2-style
    engine.
    """
    out = df
    if with_counts:
        for name, pat in PII_PATTERNS:
            out = out.withColumn(
                f"n_{name}", F.regexp_count(F.col(text_col), F.lit(pat)).cast("long")
            )
    clean = F.col(text_col)
    for _name, pat in PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, replacement)
    return out.withColumn(out_col, clean)


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    validate_ids: bool = False,
) -> DataFrame:
    """Gopher-style repetition signals per document:

    - ``dup_line_frac``: 1 - distinct/total over non-empty lines
      (boilerplate pages repeat nav/footer lines) — narrow per-row
      array work, zero shuffle.
    - ``top_bigram_frac``: occurrences of the most frequent word bigram
      over total bigrams (n_words - 1) — spam/keyword-stuffed docs
      score high. One explode + count + max, a single shuffle on
      (id, gram) with map-side partial counts.

    NULL when the document has no lines / fewer than 2 words (nothing
    to measure). All-integer counts with one final division, so an
    external SQL oracle reproduces the values exactly.

    PRECONDITION (same as :func:`fingerprint`): ``id_col`` must be
    unique and non-null — duplicate ids would interleave two documents
    in the per-id bigram window nondeterministically and fan out the
    profile join. ``validate_ids=True`` enforces it with an extra
    aggregate pass."""
    if validate_ids:
        _require_unique_ids(df, id_col, "repetition_stats")
    lines = F.filter(F.split(F.col(text_col), r"\n"), lambda x: x != "")
    n_lines = F.size(lines)
    dup_line_frac = F.when(
        n_lines > 0,
        1.0 - F.size(F.array_distinct(lines)) / n_lines.cast("double"),
    )
    base = df.select(F.col(id_col), dup_line_frac.alias("dup_line_frac"))

    grams = (
        _word_gram_rows(df, text_col, id_col, 2)
        .filter(F.col("_full"))
        .select(id_col, F.col("_sh").alias("_g"))
    )
    counts = grams.groupBy(id_col, "_g").agg(F.count("*").alias("_c"))
    top = counts.groupBy(id_col).agg(
        F.max("_c").alias("_top"), F.sum("_c").alias("_total")
    )
    joined = base.join(top, id_col, "left")
    return joined.select(
        id_col,
        "dup_line_frac",
        (F.col("_top").cast("double") / F.col("_total")).alias("top_bigram_frac"),
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: count the distinct word n-grams each
    training document shares with a benchmark corpus and flag documents
    at or above ``min_overlap`` (the n-gram-overlap decontamination rule
    used for pre-training corpora, cf. GPT-3 §C / Dolma).

    Plan shape for 100 TB: the benchmark side collapses to its DISTINCT
    n-gram set (benchmarks are tiny relative to the corpus, so this side
    is broadcast-able); the corpus side explodes distinct-per-doc
    shingles and inner-joins on the gram string, then one groupBy(doc)
    count. The corpus is touched once; the join key is the shingle, so
    AQE broadcasts the benchmark set and no corpus-wide shuffle happens
    at all. Zero-overlap docs are preserved via a left join of the base
    ids against the hit counts (id-only frames — narrow).
    """
    bench_grams = corpus_gram_state(benchmark, n, text_col, id_col)
    doc_grams = _doc_grams(docs, n, id_col, text_col)
    return _overlap_flags(
        docs, doc_grams.join(F.broadcast(bench_grams), "gram"), id_col, min_overlap
    )


def _doc_grams(docs: DataFrame, n: int, id_col: str, text_col: str) -> DataFrame:
    """(id, gram) — each training document's distinct word n-grams."""
    return exploded_shingles(docs, text_col, id_col, n, distinct=True).select(
        F.col(id_col), F.col("_sh").alias("gram")
    )


def _overlap_flags(
    docs: DataFrame, hit_grams: DataFrame, id_col: str, min_overlap: int
) -> DataFrame:
    """(id, n_overlap, contaminated) from the (id, gram) rows that hit
    the benchmark: one count per document, and every document of
    ``docs`` kept through an id-only left join (zero hits -> 0)."""
    hits = hit_grams.groupBy(id_col).agg(F.count("*").cast("long").alias("n_overlap"))
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_overlap", F.lit(0).cast("long")).alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) >= min_overlap).alias("contaminated"),
        )
    )


def contamination_fraction(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 6,
) -> DataFrame:
    """Graded benchmark contamination: the FRACTION of each training
    document's distinct word n-grams that appear anywhere in the
    benchmark corpus — the continuous companion to
    :func:`decontaminate`'s binary flag (Dolma/FineWeb-style pipelines
    hard-drop high fractions and down-weight the mid-range; the
    thresholding policy stays with the caller).

    Plan shape at 100 TB, one notch better than decontaminate's: the
    benchmark collapses to its broadcastable distinct-gram set; the
    corpus explodes distinct-per-doc shingles ONCE and left-joins the
    broadcast set with a hit marker, so numerator (marked grams) and
    denominator (all grams) come out of the SAME single groupBy — one
    corpus scan, no second aggregation, no corpus-wide shuffle (the
    groupBy key is the doc id carried by the explode). Docs too short
    to form any n-gram score 0.0 (no evidence), preserved via the
    id-only left join.
    """
    bench_grams = corpus_gram_state(benchmark, n, text_col, id_col).withColumn(
        "_hit", F.lit(1)
    )
    per_doc = (
        _doc_grams(docs, n, id_col, text_col)
        .join(F.broadcast(bench_grams), "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias("n_overlap"),
        )
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0).cast("long")).alias("n_grams"),
            F.coalesce("n_overlap", F.lit(0).cast("long")).alias("n_overlap"),
            F.round(
                F.coalesce("n_overlap", F.lit(0))
                / F.greatest(F.coalesce("n_grams", F.lit(0)), F.lit(1))
                + 1e-9,
                round_digits,
            ).alias("contamination"),
        )
    )


def bloom_bitmap(
    grams: DataFrame,
    col: str = "_g",
    m_bits: int = 1 << 20,
    num_hashes: int = 3,
) -> list[int]:
    """Build a Bloom filter over a string column as a dense bitmap
    (list of ``m_bits/64`` int64 words), entirely with JVM aggregates:
    each value sets ``num_hashes`` bits at ``pmod(xxhash64(seed, v),
    m_bits)``; words are OR-merged map-side (bit_or partial agg), so
    one shuffle of at most ``m_bits/64`` rows reaches the driver.

    The driver fetch is bounded by the FILTER size (m_bits/64 longs —
    128 KiB for the 2^20-bit default), never by the data: this is the
    same bounded hop a broadcast build makes. Sizing: for n distinct
    values and k hashes, false-positive rate ~ (1 - e^(-kn/m))^k;
    the default (2^20 bits, k=3) holds ~1e-3 at n=100k values.
    """
    if m_bits % 64 != 0:
        raise ValueError("bloom_bitmap: m_bits must be a multiple of 64")
    n_words = m_bits // 64
    rows = []
    for i in range(num_hashes):
        pos = F.pmod(F.xxhash64(F.lit(i), F.col(col)), F.lit(m_bits))
        rows.append(
            grams.select(
                (pos / 64).cast("int").alias("_word"),
                # call_function: shiftleft's Python wrapper only takes a
                # literal shift amount, but the SQL function shifts by a
                # column just fine
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), (pos % 64).cast("int")
                ).alias("_bit"),
            )
        )
    union = rows[0]
    for r in rows[1:]:
        union = union.unionByName(r)
    sparse = union.groupBy("_word").agg(F.bit_or("_bit").alias("_bits")).collect()
    bitmap = [0] * n_words
    for r in sparse:
        bitmap[r["_word"]] = r["_bits"]
    return bitmap


def bloom_might_contain(
    bitmap_col: Column, value: Column, m_bits: int, num_hashes: int
) -> Column:
    """Membership test against a :func:`bloom_bitmap` carried as an
    array<long> column — AND over the ``num_hashes`` bit probes, all
    whole-stage codegen (element_at + bitwise ops, no UDF)."""
    cond = None
    for i in range(num_hashes):
        pos = F.pmod(F.xxhash64(F.lit(i), value), F.lit(m_bits))
        word = F.element_at(bitmap_col, (pos / 64).cast("int") + 1)
        bit = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (pos % 64).cast("int")
        )
        probe = word.bitwiseAND(bit) != 0
        cond = probe if cond is None else cond & probe
    return cond


def decontaminate_bloom(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_overlap: int = 1,
    m_bits: int = 1 << 20,
    num_hashes: int = 3,
    exact_confirm: bool = True,
) -> DataFrame:
    """Benchmark decontamination with a Bloom prefilter — the scale
    path of :func:`decontaminate` for when the corpus gram stream is
    enormous: the benchmark's distinct n-grams compress into an
    ``m_bits`` Bloom bitmap (one bounded driver hop, see
    :func:`bloom_bitmap`) that rides to every task as a single
    broadcast row, and each corpus gram is tested with pure codegen
    bit probes — so the overwhelming non-contaminated majority is
    discarded IN the scan projection, before any join or shuffle.

    With ``exact_confirm=True`` (default) the surviving ~fp-rate
    sliver of grams is confirmed against the exact benchmark gram set,
    making the result IDENTICAL to :func:`decontaminate` (the Bloom
    filter has no false negatives, so prefiltering loses nothing) at a
    fraction of its join input. ``exact_confirm=False`` skips the
    confirm join entirely — zero benchmark-side work at query time —
    and accepts the documented false-positive rate as extra (safe-
    direction) contamination flags.

    Same output contract as :func:`decontaminate`:
    (id, n_overlap, contaminated).
    """
    bench_grams = corpus_gram_state(benchmark, n, text_col, id_col)
    bitmap = bloom_bitmap(bench_grams, "gram", m_bits, num_hashes)
    bm = local_frame(docs.sparkSession, [(bitmap,)], "_bm array<long>")
    doc_grams = (
        _doc_grams(docs, n, id_col, text_col)
        .crossJoin(F.broadcast(bm))
        .filter(bloom_might_contain(F.col("_bm"), F.col("gram"), m_bits, num_hashes))
        .drop("_bm")
    )
    if exact_confirm:
        doc_grams = doc_grams.join(F.broadcast(bench_grams), "gram", "left_semi")
    return _overlap_flags(docs, doc_grams, id_col, min_overlap)


def top_ngrams(
    docs: DataFrame,
    n: int = 2,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level top-k word n-grams with counts (vocabulary /
    boilerplate inspection — the usual first look at a new crawl).

    Non-distinct n-grams (frequency matters) from the shared gram rows
    (``dedup_minhash._word_gram_rows``), full-length grams only (docs
    shorter than n words contribute nothing). Then one groupBy(gram)
    with map-side partial aggregation and a global top-k via
    TakeOrderedAndProject — no full sort of the vocabulary. Ties break
    on the gram string so the result is deterministic. The gram
    window's shuffle on ``id_col`` needs an id, made up when the frame
    has none.
    """
    base = docs
    if id_col not in base.columns:
        base = base.withColumn(id_col, F.monotonically_increasing_id())
    grams = (
        _word_gram_rows(base, text_col, id_col, n)
        .filter(F.col("_full"))
        .select(F.col("_sh").alias("ngram"))
    )
    return (
        grams.groupBy("ngram")
        .agg(F.count("*").cast("long").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("ngram").asc())
        .limit(k)
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 6,
) -> DataFrame:
    """Per-document top-k terms by TF-IDF (smoothed) — keyword /
    topical-signature extraction for corpus triage and near-dup triage.

    tf = raw term count in the doc; idf = ln((N + 1) / (df + 1)) + 1
    (scikit-learn's smoothed formulation — never zero, never divides by
    zero); score = tf * idf rounded to ``round_digits`` so the result
    is comparable across engines (ln is IEEE-754 on both sides).

    Plan shape: one explode, a groupBy on (doc, term) for tf, a
    groupBy on term for df (map-side partial agg both times); the
    corpus size N rides the SAME eager aggregate as the unique-id
    precondition (one pass serves both, r13) and inlines as a literal.
    The final per-doc top-k is a window on ``id_col`` whose shuffle
    reuses the (doc, term) partitioning's doc component; ties break on
    the term string so output is deterministic. At 100 TB: two
    aggregation shuffles plus the window — the canonical TF-IDF
    dataflow, no corpus-sized broadcast anywhere.
    """
    from .dedup import normalized_words

    # ONE eager corpus pass serves both the unique-id precondition
    # (previously its own _require_unique_ids aggregate job) and the
    # corpus document count N (previously a second in-plan corpus
    # aggregate broadcast into the score) — r13: the collected count
    # inlines as a literal bit-identically.
    srow = docs.agg(
        F.count("*").alias("n"),
        F.countDistinct(F.col(id_col)).alias("d"),
        F.sum(F.col(id_col).isNull().cast("int")).alias("nulls"),
    ).first()
    if srow["n"] != srow["d"]:
        # identical contract and message to _require_unique_ids
        raise ValueError(
            f"tfidf_top_terms requires a unique, non-null id column: "
            f"{id_col!r} has {srow['n']} rows but {srow['d']} distinct "
            f"non-null values ({srow['nulls'] or 0} nulls). Duplicate ids "
            "are grouped together (mis-keyed fingerprints); null ids "
            "never join back."
        )
    n_docs = F.lit(float(srow["n"]))
    terms = docs.select(
        F.col(id_col), F.explode(normalized_words(text_col)).alias("term")
    )
    tf = terms.groupBy(id_col, "term").agg(F.count("*").cast("double").alias("tf"))
    doc_freq = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    scored = (
        tf.join(doc_freq, "term")
        .select(
            F.col(id_col),
            "term",
            # 1e-9 nudge before rounding: keeps half-ulp boundary cases
            # off the .5 rounding edge so Spark and external engines
            # agree bit-for-bit (same idiom as the money-sum oracles)
            F.round(
                F.col("tf")
                * (F.log((n_docs + 1.0) / (F.col("df") + 1.0)) + 1.0)
                + 1e-9,
                round_digits,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def pack_documents(
    docs: DataFrame,
    max_tokens: int = 2048,
    num_shards: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "pack",
) -> DataFrame:
    """Assign documents to training-context packs of ~``max_tokens``
    whitespace tokens (sequence packing for LLM pretraining batches).

    Packing is SHARD-LOCAL: every doc hashes to one of ``num_shards``
    shards (portable md5 bucket — the same contract as
    ``sampling.hash_split``), and packs are built inside a shard by a
    running token cumsum in id order: ``pack_id = floor(cum_tokens_before
    / max_tokens)``. This is next-fit packing with at most one
    boundary-straddling doc per pack (the straddler starts the pack it
    lands in; exact packers would truncate or split it — acceptable for
    pretraining where docs are clipped to the context anyway), in
    exchange for which the whole operator is ONE window per shard: no
    sequential scan, no driver loop, embarrassingly parallel across
    shards. At 100 TB: one shuffle on the shard key; shard count scales
    with the cluster, and a pack never spans shards so downstream
    writers can bucket by (shard, pack_id).

    Output: (id, shard, pack_id, n_tokens), one row per doc.
    Deterministic and engine-portable (md5 shard + id-ordered cumsum
    are both reproducible in any SQL engine — the DuckDB oracle twin
    proves it).
    """
    if max_tokens <= 0 or num_shards <= 0:
        raise ValueError("pack_documents: max_tokens and num_shards must be positive")
    # duplicate/NULL ids would tie in the id-ordered cumsum window and
    # make pack assignment run-dependent — the same reason tfidf and
    # fingerprint guard their ids
    _require_unique_ids(docs, id_col, "pack_documents")
    shard = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long") % num_shards
    toks = docs.select(
        F.col(id_col),
        shard.alias("shard"),
        token_count_whitespace(text_col).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
    return toks.select(
        F.col(id_col),
        "shard",
        F.floor(cum_before / max_tokens).cast("long").alias("pack_id"),
        "n_tokens",
    )



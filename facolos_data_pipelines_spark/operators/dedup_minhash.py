"""Exact dedup and MinHash+LSH near-dup (shingling, signatures, banded
buckets, candidate verification) — the one-shuffle-per-stage 100 TB text
dedup path. Split from dedup.py; operators.dedup re-exports the surface."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup_common import (
    _MINHASH_A,
    _MINHASH_B,
    _ansi_enabled,
    _check_lanes,
    _resolve_family,
)
from .band_index import BandIndex
from .dedup_components import _drop_pair_losers


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per exact content value (hash-groupBy).

    Grouping key is xxhash64(text) + length — collision-safe enough at
    trillions of docs while shuffling 12 bytes instead of full text;
    the min-id winner rule is deterministic.
    """
    w = Window.partitionBy(F.xxhash64(F.col(text_col)), F.length(text_col)).orderBy(
        F.col(id_col).asc()
    )
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


# ---------------------------------------------------------------------------
# Shingling + MinHash + LSH
# ---------------------------------------------------------------------------

def normalized_words(text_col: str | Column) -> Column:
    """Lowercase, strip punctuation, split to words, drop empties.

    Single regexp split on non-alphanumeric runs (one JVM pass); the
    interpreted filter only touches the at-most-two empty edge tokens.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(F.split(F.lower(c), r"[^\p{L}\p{N}]+"), lambda x: x != "")


def word_shingles(text_col: str | Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array<string>.

    Built from ``transform`` over index positions — no explode, no UDF;
    documents shorter than n words contribute their full word join as a
    single shingle so they still participate.
    """
    words = normalized_words(text_col)
    k = F.size(words)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(k - n, F.lit(0))),
        lambda i: F.array_join(F.slice(words, i + 1, n), " "),
    )
    # Empty documents would otherwise emit a single "" shingle and all
    # collide with each other; exact dedup owns identical-content cases.
    return F.filter(F.array_distinct(grams), lambda x: x != "")


def _word_gram_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    carry_cols: "tuple[str, ...] | list[str]" = (),
) -> DataFrame:
    """(id, *carry, _pos, _full, _sh) — one row per word position: the
    word n-gram starting there and whether it is complete. The one
    n-gram assembly in the package; each consumer filters it to its
    own rule:

    - :func:`exploded_shingles` keeps full grams plus position 0 (a
      document shorter than n words contributes its full word join);
    - ``text_clean.top_ngrams`` and ``text_clean.repetition_stats``
      keep full grams only;
    - ``dedup_ngram.duplicate_gram_spans`` / ``strip_duplicate_spans``
      keep ``_pos`` and take each document's word count before the
      filter.

    Built as posexplode + ``lead`` over a per-document window instead
    of the array-slice ``transform``: the window path is whole-stage
    codegen while nested higher-order functions fall back to
    interpreted eval — measured 6.5x faster over the sf0.1 corpus.
    Costs one shuffle on ``id_col`` (which downstream per-doc
    aggregations reuse). A gram near a document's end that runs out of
    words holds only the words left (``concat_ws`` skips the NULL
    leads) and reads ``_full`` false; ``n <= 1`` grams are the words.
    """
    w = df.select(
        F.col(id_col),
        *carry_cols,
        F.posexplode(normalized_words(text_col)).alias("_pos", "_w"),
    )
    if n <= 1:
        return w.select(
            id_col, *carry_cols, "_pos", F.lit(True).alias("_full"),
            F.col("_w").alias("_sh"),
        )
    win = Window.partitionBy(id_col).orderBy("_pos")
    leads = [f"_w{j}" for j in range(1, n)]
    return w.select(
        id_col,
        *carry_cols,
        "_pos",
        "_w",
        *[F.lead("_w", j).over(win).alias(c) for j, c in enumerate(leads, 1)],
    ).select(
        id_col,
        *carry_cols,
        "_pos",
        F.col(leads[-1]).isNotNull().alias("_full"),
        F.concat_ws(" ", "_w", *leads).alias("_sh"),
    )


def exploded_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    distinct: bool = True,
    carry_cols: "tuple[str, ...] | list[str]" = (),
) -> DataFrame:
    """(id, _sh) rows of word n-gram shingles — the explode-side twin of
    :func:`word_shingles` (same shingle sets: short docs contribute
    their full word join; empty docs drop out), filtered from
    :func:`_word_gram_rows`. ``distinct=True`` adds the per-doc dedup
    the array form got from ``array_distinct``.

    Consumers: the MinHash signatures and shingle arrays here, the
    rolling-min fingerprint (``text_quality``), the distinct-gram set
    behind decontamination and corpus overlap
    (``text_lm.corpus_gram_state``), the posting join of the exact
    n-gram pair operators (``dedup_ngram``), corpus diversity and the
    DSIR gram histograms.

    ``carry_cols`` names per-document columns to ride along on every
    shingle row (they must be constant per ``id_col`` — e.g. a
    membership tag) so a caller that needs a gram pass over two
    overlapping corpus slices can run ONE explode instead of two
    (dsir_logratio_weights' tagged histogram).
    """
    carry = list(carry_cols)
    # internal names of the gram pipeline — a colliding carry column
    # would silently corrupt the window ordering or the shingle text
    reserved = {"_pos", "_w", "_full", "_sh"} | {
        f"_w{j}" for j in range(1, max(shingle_n, 1))
    }
    bad = sorted(set(carry) & reserved)
    if bad:
        raise ValueError(
            f"exploded_shingles: carry_cols {bad} collide with internal "
            "column names ('_pos', '_w', '_w1'.., '_full', '_sh'); rename "
            "them first"
        )
    sh = (
        _word_gram_rows(df, text_col, id_col, shingle_n, carry)
        .filter(F.col("_full") | (F.col("_pos") == 0))
        .select(id_col, *carry, "_sh")
    )
    return sh.dropDuplicates([id_col, "_sh"]) if distinct else sh


def shingle_arrays(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """(id, _shingles) — each doc's DISTINCT shingle set as an array,
    built on the explode + lead-window codegen path and re-assembled
    with one ``collect_set`` aggregate (reusing the window's id
    partitioning: one shuffle total).

    Set-identical to ``word_shingles`` (the per-row transform form):
    the element ORDER differs, which is irrelevant to every consumer —
    the verification stages only take ``size(array_intersect/union)``.
    WHEN to use which (both directions measured, r13): this form wins
    where ONE frame feeds BOTH sides of a verify join
    (verified_near_dup_pairs: the interpreted transform used to run
    twice over the candidates, and the exploded subtree is planned
    once — minhash_dedup 3.7 -> 3.0 s); the narrow ``word_shingles``
    transform wins where each side is built once over id-pruned docs
    (the delta/cross verify sites — swapping them measured 1.3-1.9x
    SLOWER because the explode path adds a window shuffle per side)."""
    sh = exploded_shingles(df, text_col, id_col, shingle_n, distinct=False)
    return sh.groupBy(id_col).agg(F.collect_set("_sh").alias("_shingles"))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
    family: str = "multiply_add",
) -> DataFrame:
    """(id, sig: array<long>) via posexplode + lead-window + min-aggregate.

    Shingles are assembled from exploded words with ``lead`` over a
    per-document window (codegen'd; measured 2x faster than the
    interpreted array-slice transform) and each shingle is hashed
    ``num_hashes`` times exactly once (a single column expression
    re-derives the shingle array per hash — a 100-1000x plan blowup).
    Duplicate shingles are NOT deduped — the min-aggregate makes them
    harmless and skipping the distinct saves a shuffle. The window and
    the group-by share the same hash partitioning on id, so the whole
    signature computation costs ONE shuffle of the tokenized corpus.
    Empty documents (no words) drop out, which is correct — they have
    no content to near-match and are handled by exact dedup.

    Short documents (< shingle_n words) contribute their full word join
    as a single shingle (same rule as :func:`word_shingles`).

    ``family`` pins the hash family explicitly (see
    :data:`MINHASH_FAMILIES`); the default ``multiply_add`` raises a
    clear ValueError on ANSI sessions instead of silently switching —
    signatures from different families never match each other.
    """
    return _signature_rows(df, text_col, id_col, num_hashes, shingle_n, family)


def _lane_sql(family: str, i: int) -> str:
    """SQL text of MinHash lane ``i`` of ``family`` over the shingle
    ``_sh`` (multiply_add reads the shingle's one xxhash64, ``_h``)."""
    if family == "md5":
        return f"md5(concat('{i}:', _sh))"
    if family == "xxhash":
        # the seed is an INT literal, as F.lit(i) was: xxhash64 hashes
        # each argument by its type, so a BIGINT seed changes the lane
        return f"xxhash64(_sh, {i})"
    return f"_h * {_MINHASH_A[i]}L + {_MINHASH_B[i]}L"


def _signature_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    shingle_n: int,
    family: str,
    shingles: bool = False,
) -> DataFrame:
    """(id, sig[, _shingles]) — :func:`minhash_signatures`, with each
    doc's distinct shingle set collected in the SAME ``groupBy(id)`` as
    the min lanes when ``shingles`` is set (the set verify reads, equal
    to :func:`shingle_arrays`' for the doc).

    The lanes and mins are SQL text: one ``selectExpr`` of every lane,
    one aggregate expression of every min, whatever ``num_hashes`` —
    O(1) py4j calls instead of one Column call per lane and per min."""
    # (id, _sh) rows, duplicates kept (the min-aggregate absorbs them)
    sh = exploded_shingles(df, text_col, id_col, shingle_n, distinct=False)
    # Hash the shingle string ONCE, then derive every MinHash lane with
    # a 2-universal multiply-add over the 64-bit hash — 1 string hash +
    # num_hashes long mul/adds per shingle instead of num_hashes string
    # hashes (smaller codegen unit, ~3x faster at 32 lanes). The wrap
    # arithmetic throws under ANSI, so the multiply_add family is
    # rejected up front there; 'xxhash' is the (slower, equally
    # correct) per-lane seeded string hash valid on any session.
    _check_lanes(num_hashes)
    family = _resolve_family(family, _ansi_enabled(df))
    if family == "multiply_add":
        sh = sh.selectExpr(f"`{id_col}`", "_sh", "xxhash64(_sh) AS _h")
    keep = ["_sh"] if shingles else []
    hashed = sh.selectExpr(
        f"`{id_col}`", *keep,
        *[f"{_lane_sql(family, i)} AS _h{i}" for i in range(num_hashes)],
    )
    mins = ", ".join(f"min(_h{i})" for i in range(num_hashes))
    aggs = [F.expr(f"array({mins}) AS sig")]
    if shingles:
        aggs.append(F.expr("collect_set(_sh) AS _shingles"))
    return hashed.groupBy(id_col).agg(*aggs)


def _band_keys_sql(num_hashes: int, bands: int) -> str:
    """SQL text of a doc's ``array<struct<band_id: int, band_hash:
    bigint>>`` from its ``sig``: band b hashes the comma join of lanes
    ``b * rows .. b * rows + rows - 1`` (rows = num_hashes // bands)."""
    rows = num_hashes // bands
    return (
        f"transform(sequence(0, {bands - 1}), _b -> named_struct('band_id', _b, "
        f"'band_hash', xxhash64(array_join(transform(slice(sig, _b * {rows} + 1, "
        f"{rows}), _x -> CAST(_x AS STRING)), ','))))"
    )


def minhash_lsh_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    family: str = "multiply_add",
) -> DataFrame:
    """Explode each doc into (band_id, band_hash) bucket keys.

    bands=8 over 32 hashes -> rows-per-band r=4: collision prob
    1-(1-j^4)^8, ~0.5 crossover at Jaccard ≈ 0.6. Output columns:
    id_col, band_id, band_hash. One narrow pass + explode; the
    downstream group-by shuffles only (id, band) pairs. ``family``
    pins the MinHash hash family (see :data:`MINHASH_FAMILIES`) —
    buckets from different families never match.
    """
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n, family)
    return sigs.selectExpr(
        f"`{id_col}`", f"inline({_band_keys_sql(num_hashes, bands)})"
    )


def _minhash_signed_docs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
    family: str,
) -> DataFrame:
    """(id, _bands, _feat) — one row per signable doc: its
    :func:`minhash_lsh_buckets` keys as an array and its distinct
    shingle set, both from ONE signing pass (one shuffle)."""
    sigs = _signature_rows(
        df, text_col, id_col, num_hashes, shingle_n, family, shingles=True
    )
    return sigs.selectExpr(
        f"`{id_col}`",
        f"{_band_keys_sql(num_hashes, bands)} AS _bands",
        "_shingles AS _feat",
    )


def lsh_candidate_pairs(
    buckets: DataFrame, id_col: str = "doc_id", max_bucket_size: int | None = None
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing any band bucket.

    Self-join within buckets only — the whole point of LSH: comparisons
    are bucket-local. Hot buckets (boilerplate text) are the skew risk:
    AQE skew-join splitting handles moderate skew;
    ``max_bucket_size`` drops buckets larger than the cap entirely
    (standard practice — a bucket shared by thousands of documents is
    template/boilerplate collision, and its members still pair up in
    their other, more selective bands). The cap turns the worst-case
    Σ size² self-join into Σ min(size, cap)².
    """
    return _minhash_index(id_col=id_col)._self_join(
        buckets, max_bucket_size
    ).dropDuplicates()


def verified_near_dup_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Verify LSH candidates with exact n-gram Jaccard
    (array_intersect/array_union over distinct shingles). Returns
    (id_a, id_b, jaccard) for pairs >= threshold.

    Shingle arrays are computed only for documents that appear in a
    candidate pair (semi-join first) — LSH typically surfaces <<1% of
    the corpus, so verification cost is proportional to candidates,
    not corpus size."""
    cand_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .dropDuplicates()
    )
    # explode-path shingle arrays (shingle_arrays): ~2x faster than the
    # interpreted word_shingles transform when candidates are dense
    # (r13 A/B); identical sets, and only set sizes are consumed below
    sh = shingle_arrays(
        df.join(cand_ids, id_col, "left_semi"), text_col, id_col, shingle_n
    )
    joined = (
        pairs.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("_shingles", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("_shingles", "sh_b"), "id_b")
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    return joined.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.8,
    transitive: bool = False,
    max_bucket_size: int | None = None,
    family: str = "multiply_add",
    score_col: str | None = None,
    descending: bool = True,
) -> DataFrame:
    """End-to-end MinHash near-dedup: LSH buckets -> candidate pairs ->
    Jaccard verify -> drop duplicates, keeping the lowest id — or,
    with ``score_col``, the BEST-scoring member of each single-link
    cluster (:func:`keep_best_per_cluster`; implies transitive
    resolution).
    ``max_bucket_size`` caps pathological LSH buckets (see
    :func:`lsh_candidate_pairs`). ``family`` pins the MinHash hash
    family (:data:`MINHASH_FAMILIES`); since this operator both
    computes and consumes the signatures within one job, either family
    gives the same dedup semantics — ``multiply_add`` is faster but
    needs a non-ANSI session, ``xxhash`` runs anywhere.

    ``transitive=False`` (default) does one sweep — every doc matched
    to a smaller id drops — so a chain a~b, b~c (a!~c) keeps only a,
    while a bridge with the highest id keeps its ends apart (1~3, 2~3,
    1!~2 keeps 1 and 2 in one cluster). ``transitive=True`` resolves full
    single-link components over the verified pairs
    (:func:`connected_components`) and keeps exactly one doc (the min
    id) per component — the correct semantics for boilerplate chains,
    at the cost of O(diameter) extra id-only joins.

    The in-batch sweep is :meth:`~.band_index.BandIndex.within_pairs`:
    the band rows are checkpointed once (both sides of the self-join
    and the verify would otherwise recompute the signature DAG —
    measured 1.6x slower), and the loser set stays lazy in the
    returned plan.
    """
    dups = _minhash_index(
        text_col, id_col, num_hashes, bands, shingle_n, family, threshold
    ).within_pairs(df, max_bucket_size=max_bucket_size)
    return _drop_pair_losers(
        df, dups, id_col, transitive, score_col=score_col, descending=descending
    )


def minhash_cross_corpus_pairs(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.8,
    family: str = "multiply_add",
    max_bucket_size: int | None = None,
    left_buckets: DataFrame | None = None,
    right_buckets: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs BETWEEN two corpora, never within one — the
    dedup-new-data-against-existing-training-set / decontaminate-crawl-
    against-eval-set primitive the self-join operators can't express
    without paying for both corpora's internal pairs. Returns
    (left_id, right_id, jaccard) for every cross pair whose verified
    distinct-shingle Jaccard clears ``threshold``.

    The (left_id, right_id) candidate set — referenced three times
    downstream (verify join + both side-shingle semi-joins) — is
    materialized once with an eager ``localCheckpoint``: the expensive
    band-join subtree runs once and the checkpointed rows are
    id-pair-width only. Under :func:`~..eager.plan_only_mode` it stays
    a pure Catalyst plan for inspection. Executor-local checkpoint
    blocks are lost with the executor, so for huge corpora on a real
    cluster write the candidate set to a bucketed table once
    (``sources.io.write_bucketed`` with left_id as the bucket column)
    and verify from it.

    Plan shape: both sides reduce to (id, band_id, band_hash) bucket
    rows under the SAME hash family (signatures from different
    families never match — the persisted-store contract); the
    candidate join is hash-partitioned on (band_id, band_hash) with no
    self-join anywhere, so cost is one band shuffle of each corpus +
    verification proportional to CROSS candidates only. When ``right``
    is a benchmark/eval set (the decontamination case) its bucket side
    is small enough that AQE broadcasts it — the new corpus then never
    shuffles at all. ``max_bucket_size`` caps boilerplate buckets on
    each side independently, same rationale as
    :func:`lsh_candidate_pairs`. Ids may collide across corpora (both
    sides can have a doc 17) — the output keeps the sides in separate
    columns and never compares ids across sides.

    ``left_buckets`` / ``right_buckets`` optionally feed precomputed
    band frames (:func:`minhash_band_state` rows under the SAME
    family/params — the persisted-store contract) so a caller whose
    sides partition one corpus can sign it once and filter-split
    instead of running two signature pipelines; identical output —
    a document's band rows don't depend on which frame selects them."""
    ix = _minhash_index(
        text_col, id_col, num_hashes, bands, shingle_n, family, threshold
    )
    lb = left_buckets if left_buckets is not None else ix.sign(left)
    rb = right_buckets if right_buckets is not None else ix.sign(right)
    return ix.cross_pairs(lb, rb, left, right, max_bucket_size)


def _minhash_index(
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    family: str = "multiply_add",
    threshold: float = 0.8,
) -> BandIndex:
    """The MinHash/Jaccard :class:`~.band_index.BandIndex`: signs with
    :func:`minhash_lsh_buckets`, verifies with exact distinct-shingle
    Jaccard. Cross-side verify builds each side's shingle arrays with
    the narrow :func:`word_shingles` transform: each side is built once
    over id-pruned docs, and the explode path (:func:`shingle_arrays`)
    measured 1.3-1.9x SLOWER there (it adds a window shuffle per side;
    cross_corpus_dedup 3.75 -> 4.67 s, decontaminate 1.28 -> 2.39 s,
    r13). The in-batch form, where one frame feeds both sides, keeps
    :func:`verified_near_dup_pairs`' explode path."""
    return BandIndex(
        id_col=id_col,
        keys=("band_id", "band_hash"),
        family={
            "num_hashes": num_hashes,
            "bands": bands,
            "shingle_n": shingle_n,
            "family": family,
        },
        noun="MinHash signing family",
        score="jaccard",
        threshold=threshold,
        sign=lambda df: minhash_lsh_buckets(
            df, text_col, id_col, num_hashes, bands, shingle_n, family
        ),
        sign_docs=lambda df: _minhash_signed_docs(
            df, text_col, id_col, num_hashes, bands, shingle_n, family
        ),
        features=lambda df: df.select(id_col, word_shingles(text_col, shingle_n)),
        similarity=lambda a, b: F.size(F.array_intersect(a, b))
        / F.size(F.array_union(a, b)),
        verify_within=lambda cand, df: verified_near_dup_pairs(
            df, cand, text_col, id_col, shingle_n, threshold
        ),
    )


def cross_corpus_dedup(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.8,
    family: str = "multiply_add",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Keep only the ``left`` rows that near-duplicate NO ``right``
    document (minhash-LSH blocked, Jaccard-verified) — incremental
    corpus ingestion: ``right`` is what you already have (or must not
    leak, for eval sets), ``left`` is the new batch; survivors are safe
    to append. One left-anti join on the matched left ids; ``right``
    is never mutated or copied."""
    pairs = minhash_cross_corpus_pairs(
        left, right, text_col, id_col, num_hashes, bands, shingle_n,
        threshold, family, max_bucket_size,
    )
    losers = pairs.select(F.col("left_id").alias(id_col)).dropDuplicates()
    return left.join(losers, id_col, "left_anti")


def minhash_band_state(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    family: str = "multiply_add",
) -> DataFrame:
    """The persistable LSH index rows for a corpus — (id, band_id,
    band_hash), one row per document per band — i.e. exactly
    :func:`minhash_lsh_buckets`, named for the persisted-store role.

    This is the state table of the incremental dedup loop
    (:func:`minhash_dedup_delta`): write it ONCE for the existing
    corpus, then each ingestion cycle signs only its own batch and
    joins against these rows — no historical document is ever re-read
    or re-signed. The store contract: ``family`` / ``num_hashes`` /
    ``bands`` / ``shingle_n`` are part of the schema — rows computed
    under different parameters never match and must never share a
    table. At cluster scale write it bucketed on
    ``("band_id", "band_hash")`` — the probe join's keys, in join
    order, which is what lets the bucketed scan's HashPartitioning
    satisfy the join's required distribution
    (``sources.io.write_bucketed``) — so every cycle's candidate join
    shuffles only the batch side, into the state's bucket count
    (proven as a plan assertion in tests/test_bucketed_state.py);
    band_hash is a 64-bit hash, so bucket skew mirrors bucket-occupancy
    skew and the ``max_bucket_size`` cap downstream bounds it."""
    return minhash_lsh_buckets(
        df, text_col, id_col, num_hashes, bands, shingle_n, family
    )


def minhash_delta_pairs(
    batch: DataFrame,
    state: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.8,
    family: str = "multiply_add",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs between a NEW batch and the PERSISTED corpus
    state — (left_id: batch doc, right_id: historical doc, jaccard) —
    without recomputing a single historical signature.

    The incremental sibling of :func:`minhash_cross_corpus_pairs`:
    where that operator signs both corpora from text every call (right
    side cost grows with the corpus), this one takes the history as
    ``state`` rows already on disk (:func:`minhash_band_state`), so the
    per-cycle cost is O(batch) signature compute + one band-keyed join
    of the batch's band rows against the state table + verification
    proportional to cross candidates only. ``corpus`` (the historical
    documents table) is touched ONLY to fetch the text of matched
    candidate ids for exact-Jaccard verification — an id-pruned
    semi-join read (<<1% of the corpus; at cluster scale keep the
    corpus bucketed on ``id_col`` so this read never full-scans).

    ``state`` must carry (id_col, band_id, band_hash) computed under
    the SAME family/num_hashes/bands/shingle_n (the persisted-store
    contract — parameters are part of the schema). Candidate
    materialization and ``max_bucket_size`` behave as in
    :func:`minhash_cross_corpus_pairs`."""
    ix = _minhash_index(
        text_col, id_col, num_hashes, bands, shingle_n, family, threshold
    )
    return ix.cross_pairs(ix.sign(batch), state, batch, corpus, max_bucket_size)


def minhash_dedup_delta(
    batch: DataFrame,
    state: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.8,
    family: str = "multiply_add",
    max_bucket_size: int | None = None,
    batch_buckets: DataFrame | None = None,
) -> DataFrame:
    """One cycle of the incremental MinHash dedup loop: the batch rows
    that survive BOTH history (no verified near-dup in the persisted
    corpus state) and the batch-internal sweep (not a verified near-dup
    of a smaller-id batch doc) — i.e. exactly what is safe to append to
    an already-deduplicated corpus.

    Semantics are order-free within the batch and history-first across
    batches: a historical match kills a batch doc regardless of ids
    (history was already accepted), while batch-internal ties resolve
    by min id, the same rule as :func:`minhash_dedup`. The internal
    sweep runs over the WHOLE batch (a batch doc that loses to history
    still kills its own batch near-dups — its content is represented in
    the corpus by the historical doc that beat it), so the survivor set
    of a batch never depends on the order its members are inspected.

    Per-cycle cost: within THIS operator the batch's band rows are
    computed once (checkpointed for the history join and the internal
    self-join), the state is probed by one band-keyed join, and text
    verification touches only candidate ids from either side. No
    historical document is re-signed; the loop's running cost is pinned
    to batch size, not corpus size (measured in SCALE.md §6g). Append
    :func:`minhash_band_state` of the survivors to the state table to
    complete the cycle (``bands`` rows per survivor; losers need no
    rows — whichever doc beat them is already represented).
    ``batch_buckets`` optionally supplies the batch's band rows already
    signed (``minhash_band_state(batch)``), so a loop that keeps them
    can select the survivors' rows by id instead of re-signing."""
    return _minhash_index(
        text_col, id_col, num_hashes, bands, shingle_n, family, threshold
    ).delta_survivors(batch, state, corpus, max_bucket_size, batch_buckets)

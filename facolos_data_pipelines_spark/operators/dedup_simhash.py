"""SimHash near-dup (64-bit xxhash votes, pigeonhole blocking) with the
md5-lane portable twin. Split from dedup.py; operators.dedup re-exports
the surface."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup_components import _drop_pair_losers
from .dedup_minhash import normalized_words


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _lane_packed_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    word_hash,
    hash_bits: list[int],
) -> DataFrame:
    """(id, _fp: long) by explode + lane-packed per-bit majority vote:
    fingerprint bit j is set iff more than half of a document's words
    have bit ``hash_bits[j]`` of ``word_hash(word)`` set.

    Each word is hashed once and the votes reduce with SIMD-style
    lane-packed SUM aggregates — all whole-stage-codegen, one shuffle
    on id. Bit-vote counters are packed four-per-long in 16-bit lanes
    (``sum((h >> l) & 0x0001000100010001)`` counts bits l, l+16, l+32,
    l+48 at once), so 64 bit positions need 16 aggregates instead of
    64; exact up to 32,767 words per document — the 16-bit lanes hold
    65,535 but the packed long's top lane must stay clear of the sign
    bit. Longer documents are truncated to their first 32,767 words at
    the explode (structural guard — no silent counter overflow; near-
    dup semantics on >32k-word documents are dominated by their prefix
    anyway). Empty documents drop out (no words -> no fingerprint),
    correct for near-dup: nothing to match on."""
    w = df.select(
        F.col(id_col), F.posexplode(normalized_words(text_col)).alias("_pos", "_w")
    ).filter(F.col("_pos") < 32767)
    h = w.select(id_col, word_hash(F.col("_w")).alias("_h"))
    lane_mask = F.lit(0x0001000100010001)
    aggs = [
        F.sum(F.shiftright(F.col("_h"), l).bitwiseAND(lane_mask)).alias(f"_l{l}")
        for l in range(16)
    ]
    votes = h.groupBy(id_col).agg(F.count("*").alias("_n"), *aggs)
    fp = F.lit(0).cast("long")
    for j, hp in enumerate(hash_bits):
        cnt = F.shiftright(F.col(f"_l{hp % 16}"), 16 * (hp // 16)).bitwiseAND(
            F.lit(0xFFFF)
        )
        fp = fp.bitwiseOR(
            F.when(
                cnt * 2 > F.col("_n"), F.shiftleft(F.lit(1).cast("long"), j)
            ).otherwise(F.lit(0).cast("long"))
        )
    return votes.select(F.col(id_col), fp.alias("_fp"))


def simhash_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
) -> DataFrame:
    """(id, _fp: long) 64-bit SimHash: each word votes +1/-1 per bit of
    its xxhash64 and bit j is set iff the majority of word-hashes have
    bit j set (see :func:`_lane_packed_fingerprints`)."""
    if bits != 64:
        raise ValueError("simhash_fingerprints packs 16-bit lanes over a 64-bit hash; bits must be 64")
    return _lane_packed_fingerprints(
        df, text_col, id_col, F.xxhash64, list(range(64))
    )


def hamming_distance(a: Column, b: Column) -> Column:
    """Popcount of XOR via bit_count (Spark >= 3.3)."""
    return F.bit_count(a.bitwiseXOR(b))


def _pigeonhole_dedup(
    df: DataFrame,
    fp: DataFrame,
    id_col: str,
    max_hamming: int,
    block_bits: int,
    score_col: str | None,
    descending: bool,
) -> DataFrame:
    """Drop near-dups among ``fp``'s (id, _fp) rows, blocked on four
    ``block_bits``-wide fingerprint blocks: two fingerprints within
    hamming distance 3 share at least one block exactly, so comparisons
    stay bucket-local. Drops the higher id of every close pair, or with
    ``score_col`` keeps the best-scoring member of each single-link
    cluster (:func:`keep_best_per_cluster`)."""
    mask = (1 << block_bits) - 1
    blocks = fp.select(
        id_col,
        "_fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("q"),
                        F.shiftright(F.col("_fp"), q * block_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("blk"),
                    )
                    for q in range(4)
                ]
            )
        ).alias("b"),
    ).select(id_col, "_fp", F.col("b.q").alias("q"), F.col("b.blk").alias("blk"))
    # No persist needed: both self-join sides hang off the same
    # group-by exchange, which Spark reuses (ReusedExchange).
    a, b = blocks.alias("a"), blocks.alias("b")
    close = a.join(
        b,
        (F.col("a.q") == F.col("b.q"))
        & (F.col("a.blk") == F.col("b.blk"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).filter(hamming_distance(F.col("a._fp"), F.col("b._fp")) <= max_hamming)
    if score_col is not None:
        pairs = close.select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        ).dropDuplicates()
        return _drop_pair_losers(
            df, pairs, id_col, False, score_col=score_col, descending=descending
        )
    dups = close.select(F.col(f"b.{id_col}").alias(id_col)).dropDuplicates()
    return df.join(dups, id_col, "left_anti")


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    score_col: str | None = None,
    descending: bool = True,
) -> DataFrame:
    """SimHash near-dedup with banded blocking.

    Pigeonhole: two 64-bit fingerprints within hamming distance k share
    at least one of k+1 16-bit blocks exactly — block on each quarter,
    compare within blocks only, drop the higher id of close pairs.
    ``score_col`` switches to the best-scoring-member keep policy over
    single-link clusters (:func:`keep_best_per_cluster`).
    """
    fp = simhash_fingerprints(df, text_col, id_col)
    return _pigeonhole_dedup(df, fp, id_col, max_hamming, 16, score_col, descending)


def simhash_fingerprints_md5(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, _fp: long) PORTABLE 60-bit SimHash twin of
    :func:`simhash_fingerprints`.

    A word's hash bits come from the first 15 hex digits of
    ``md5(word)``: digit d contributes bits 4d..4d+3 (its nibble value,
    readable in any engine — Spark ``conv(digit,16,10)``, DuckDB
    ``strpos('0123456789abcdef', digit)-1``). Each word votes +1/-1 per
    bit; fingerprint bit j is set iff the vote sum is > 0. All-integer
    math over bit-identical md5 hex, so a DuckDB/Trino oracle
    reproduces the fingerprints — and the dedup survivor set — exactly.
    60 bits (not 64) keeps the packed fingerprint positive in engines
    whose BIGINT shift-left overflow-checks at bit 63.

    The 15 hex digits ARE one 60-bit integer: conv of the prefix equals
    sum(v_d * 16^(14-d)), so a word's whole nibble vector lands in one
    long and the per-bit majority reduces with the same lane-packed
    aggregates as the xxhash variant (measured ~3 s -> ~1 s on the
    sf0.1 vote stage against 60 per-bit sums, plans/r12/OPTIMIZATION.md
    §7). Digit d sits at H-bits 4*(14-d)..+3 (leftmost digit = top
    nibble), so fingerprint bit j reads H-bit 4*(14 - j//4) + (j%4);
    votes_j > 0 under the +1/-1 sum is exactly 2*cnt_j > n.
    """
    return _lane_packed_fingerprints(
        df,
        text_col,
        id_col,
        lambda w: F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long"),
        [4 * (14 - j // 4) + (j % 4) for j in range(60)],
    )


def simhash_dedup_md5(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    score_col: str | None = None,
    descending: bool = True,
) -> DataFrame:
    """Portable SimHash near-dedup over the 60-bit md5 fingerprints —
    the oracle-checkable twin of :func:`simhash_dedup` (including the
    ``score_col`` best-member keep policy), blocked on the fingerprint's
    four 15-bit blocks."""
    fp = simhash_fingerprints_md5(df, text_col, id_col)
    return _pigeonhole_dedup(df, fp, id_col, max_hamming, 15, score_col, descending)

"""SimHash near-dup (64-bit fold, pigeonhole blocking) with the
md5-lane portable twin. Split from dedup.py; operators.dedup re-exports
the surface."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup_components import _drop_pair_losers
from .dedup_minhash import normalized_words


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(text_col: str | Column, bits: int = 64) -> Column:
    """64-bit SimHash fingerprint, pure SQL expressions.

    Each word votes +1/-1 per bit position of its xxhash64; the
    fingerprint takes the sign of each bit's vote sum. Implemented as a
    fold (``aggregate``) over the word array accumulating a 64-slot
    vote vector — narrow per-row work, no explode/shuffle.
    """
    words = normalized_words(text_col)
    zero = F.array_repeat(F.lit(0), bits)
    votes = F.aggregate(
        words,
        zero,
        lambda acc, w: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(bits - 1)),
                # bit_get accepts a Column position (shiftright does not)
                lambda j: F.bit_get(F.xxhash64(w), j).cast("int") * 2 - 1,
            ),
            lambda a, v: a + v,
        ),
    )
    # Pack sign bits into a long with shift/or — bitwise ops never
    # overflow-check, so this is safe under ANSI mode too (the old
    # acc*2+bit fold threw ArithmeticException there on the sign bit).
    return F.aggregate(
        votes,
        F.lit(0).cast("long"),
        lambda acc, v: F.shiftleft(acc, 1).bitwiseOR(
            F.when(v > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        ),
    )


def simhash_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
) -> DataFrame:
    """(id, _fp: long) SimHash via explode + per-bit majority aggregate.

    The column-expression :func:`simhash` runs interpreted (higher-order
    functions skip codegen) and costs ~bits x words element-ops per row;
    this variant hashes each word once and reduces with SIMD-style
    lane-packed SUM aggregates — all whole-stage-codegen, one shuffle on
    id. Bit-vote counters are packed four-per-long in 16-bit lanes
    (``sum((h >> l) & 0x0001000100010001)`` counts bits l, l+16, l+32,
    l+48 at once), so 64 bit positions need 16 aggregates instead of 64;
    exact up to 32,767 words per document — the 16-bit lanes hold 65,535
    but the packed long's top lane must stay clear of the sign bit.
    Longer documents are truncated to their first 32,767 words at the
    explode (structural guard — no silent counter overflow).
    Bit j of the fingerprint is set iff the majority of word-hashes have
    bit j set. Empty documents drop out (no words -> no fingerprint),
    correct for near-dup: nothing to match on.
    """
    if bits != 64:
        raise ValueError("simhash_fingerprints packs 16-bit lanes over a 64-bit hash; bits must be 64")
    lane_mask = F.lit(0x0001000100010001)
    # Enforce the counter-exactness bound structurally: fingerprint the
    # first 32,767 words of each document. A silent lane overflow would
    # corrupt neighbouring bit counts; truncation is deterministic and
    # near-dup semantics on >32k-word documents are dominated by their
    # prefix anyway.
    w = df.select(
        F.col(id_col), F.posexplode(normalized_words(text_col)).alias("_pos", "_w")
    ).filter(F.col("_pos") < 32767)
    h = w.select(id_col, F.xxhash64("_w").alias("_h"))
    aggs = [
        F.sum(F.shiftright(F.col("_h"), l).bitwiseAND(lane_mask)).alias(f"_l{l}")
        for l in range(16)
    ]
    votes = h.groupBy(id_col).agg(F.count("*").alias("_n"), *aggs)
    fp = F.lit(0).cast("long")
    for j in range(bits):
        cnt = F.shiftright(F.col(f"_l{j % 16}"), 16 * (j // 16)).bitwiseAND(F.lit(0xFFFF))
        term = F.when(
            cnt * 2 > F.col("_n"),
            F.shiftleft(F.lit(1).cast("long"), j),
        ).otherwise(F.lit(0).cast("long"))
        fp = fp.bitwiseOR(term)
    return votes.select(F.col(id_col), fp.alias("_fp"))


def hamming_distance(a: Column, b: Column) -> Column:
    """Popcount of XOR via bit_count (Spark >= 3.3)."""
    return F.bit_count(a.bitwiseXOR(b))


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
    blocks = fp.select(
        id_col,
        "_fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("q"),
                        F.shiftright(F.col("_fp"), q * 16)
                        .bitwiseAND(F.lit(0xFFFF))
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
    whose BIGINT shift-left overflow-checks at bit 63. Same explode +
    vote-sum shape as the 64-bit xxhash variant (one shuffle on id,
    codegen aggregates); same 32,767-word structural truncation.
    """
    w = df.select(
        F.col(id_col), F.posexplode(normalized_words(text_col)).alias("_pos", "_w")
    ).filter(F.col("_pos") < 32767)
    # The 15 hex digits ARE one 60-bit integer: conv of the prefix
    # equals sum(v_d * 16^(14-d)), so a word's whole nibble vector
    # lands in one long and the per-bit majority reduces with the SAME
    # lane-packed SUM aggregates the xxhash variant uses (16 sums of
    # ``(h >> l) & 0x0001000100010001`` instead of 60 per-bit sums —
    # 15 conv + 60 bit-extractions per word-row collapse to 1 conv +
    # 16 lane masks; measured ~3 s -> ~1 s on the sf0.1 vote stage,
    # plans/r12/OPTIMIZATION.md §7). Digit d sits at H-bits 4*(14-d)..+3
    # (leftmost digit = top nibble), so the assembly below remaps
    # fingerprint bit j to H-bit 4*(14 - j//4) + (j%4); votes_j > 0
    # under the old +1/-1 sum is exactly 2*cnt_j > n. Exact up to
    # 32,767 words per doc — the same structural truncation bound as
    # the xxhash variant's lanes.
    h = w.select(
        id_col,
        F.conv(F.substring(F.md5("_w"), 1, 15), 16, 10).cast("long").alias("_h"),
    )
    lane_mask = F.lit(0x0001000100010001)
    aggs = [
        F.sum(F.shiftright(F.col("_h"), l).bitwiseAND(lane_mask)).alias(f"_l{l}")
        for l in range(16)
    ]
    votes = h.groupBy(id_col).agg(F.count("*").alias("_n"), *aggs)
    fp = F.lit(0).cast("long")
    for j in range(60):
        hp = 4 * (14 - j // 4) + (j % 4)
        cnt = F.shiftright(F.col(f"_l{hp % 16}"), 16 * (hp // 16)).bitwiseAND(
            F.lit(0xFFFF)
        )
        fp = fp.bitwiseOR(
            F.when(
                cnt * 2 > F.col("_n"), F.shiftleft(F.lit(1).cast("long"), j)
            ).otherwise(F.lit(0).cast("long"))
        )
    return votes.select(F.col(id_col), fp.alias("_fp"))


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
    ``score_col`` best-member keep policy).

    Pigeonhole blocking on the fingerprint's four 15-bit blocks: two
    60-bit fingerprints within hamming distance 3 must share at least
    one block exactly, so comparisons stay bucket-local (same scale
    shape as the 64-bit variant's 16-bit-quarter blocking)."""
    fp = simhash_fingerprints_md5(df, text_col, id_col)
    blocks = fp.select(
        id_col,
        "_fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("q"),
                        F.shiftright(F.col("_fp"), q * 15)
                        .bitwiseAND(F.lit(0x7FFF))
                        .alias("blk"),
                    )
                    for q in range(4)
                ]
            )
        ).alias("b"),
    ).select(id_col, "_fp", F.col("b.q").alias("q"), F.col("b.blk").alias("blk"))
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



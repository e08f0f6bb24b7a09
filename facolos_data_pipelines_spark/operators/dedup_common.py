"""Shared hash-family constants and session guards for the dedup
operator family (MinHash lanes, ANSI detection, family resolution).
Split from dedup.py along operator-family lines; the public import
surface lives in operators.dedup, which re-exports everything."""

from __future__ import annotations

from pyspark.sql import DataFrame


_U64 = (1 << 64) - 1


def _splitmix64(x: int) -> int:
    """Deterministic 64-bit mix (SplitMix64) for hash-family constants."""
    x = (x + 0x9E3779B97F4A7C15) & _U64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _U64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _U64
    return x ^ (x >> 31)


def _to_i64(x: int) -> int:
    """Reinterpret an unsigned 64-bit value as a signed Java long."""
    return x - (1 << 64) if x >= (1 << 63) else x


# Fixed 2-universal multiply-add family: h_i(x) = a_i * x + b_i over
# Z/2^64 (Java long wrap; requires ANSI off — callers on an ANSI
# session fall back to per-lane seeded xxhash64, see _lane_hash). One
# xxhash64 of the shingle string feeds all num_hashes MinHash lanes —
# 64-bit arithmetic instead of re-hashing the string per lane (measured
# ~3x faster end-to-end and a far smaller codegen unit).
_MAX_LANES = 256
_MINHASH_A = [_to_i64(_splitmix64(2 * i) | 1) for i in range(_MAX_LANES)]
_MINHASH_B = [_to_i64(_splitmix64(2 * i + 1)) for i in range(_MAX_LANES)]


def _ansi_enabled(df: DataFrame) -> bool:
    try:
        # no fallback: get(key) returns the effective value, which on
        # Spark 4 is "true" when the key was never set
        return df.sparkSession.conf.get("spark.sql.ansi.enabled") == "true"
    except Exception:  # pragma: no cover — static-conf sessions
        return True  # assume the strict mode if unknowable


#: Supported MinHash hash families. The family is part of the signature
#: CONTRACT: signatures/LSH buckets computed under one family never match
#: frames computed under the other, so persisted signature stores must pin
#: one family and always pass it explicitly.
#:
#: - ``multiply_add``: lane i = a_i * xxhash64(shingle) + b_i over Z/2^64
#:   (Java long wrap). Fastest (one string hash per shingle), but the wrap
#:   arithmetic throws ArithmeticException under ANSI mode
#:   (``spark.sql.ansi.enabled=true``, the Spark 4.x default) — requires a
#:   non-ANSI session and is rejected at plan-build time otherwise.
#: - ``xxhash``: lane i = xxhash64(shingle, seed=i). ~3x slower at 32
#:   lanes (re-hashes the string per lane) but valid on any session.
#: - ``md5``: lane i = lexicographic MIN of md5('i:' || shingle) hex
#:   strings. Slowest, but PORTABLE: md5 hex is bit-identical across
#:   engines (DuckDB, Trino, ...), so signatures — and therefore the
#:   dedup survivor set — can be cross-checked by an external oracle.
#:   Lexicographic min over uniformly-distributed fixed-width hex is a
#:   valid MinHash order statistic.
MINHASH_FAMILIES = ("multiply_add", "xxhash", "md5")


def _resolve_family(family: str, ansi: bool) -> str:
    if family not in MINHASH_FAMILIES:
        raise ValueError(
            f"unknown MinHash family {family!r}; expected one of {MINHASH_FAMILIES}"
        )
    if family == "multiply_add" and ansi:
        raise ValueError(
            "MinHash family 'multiply_add' relies on integer wrap-around and "
            "throws under ANSI mode (spark.sql.ansi.enabled=true). Either "
            "disable ANSI on this session or pass family='xxhash' — and note "
            "the two families produce incompatible signatures/LSH buckets."
        )
    return family


def _check_lanes(num_hashes: int) -> None:
    if num_hashes > _MAX_LANES:
        raise ValueError(
            f"num_hashes={num_hashes} exceeds the fixed multiply-add "
            f"hash family size ({_MAX_LANES} lanes)"
        )

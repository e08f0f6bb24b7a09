"""Synthesize an sf1-scale dataset from /root/testdata/sf0.1 for the
scale-curve bench (SCALE.md §6a).

The driver ships sf0.001/0.01/0.1 only; this script scales the FACT
tables 10x by unioning key-shifted copies while keeping workload
*density* constant, so sf0.1 -> sf1 timings measure data-volume
scaling, not a change in problem character:

- ``orders``/``lineitem``: order keys shifted per copy (custkeys kept —
  more orders per customer, as real growth does).
- ``events``: event ids AND user ids shifted — 10x users at constant
  per-user event density, so per-user windows/sessions stay the same
  size and a super-linear bench delta would indicate a plan problem,
  not fatter partitions.
- ``documents``: doc ids shifted; for copies > 0 a GROUP-specific
  marker token is spliced after every second word — dense enough that
  EVERY 3-shingle (and a fortiori every 5-gram) contains a marker, so
  copies share ZERO shingles with their originals or with copies from
  other groups; copies are grouped in threes sharing one marker, so
  each (base doc, group) plants a 3-clique of EXACT duplicates. The
  true near-dup pair set therefore grows LINEARLY with the factor
  (more fixed-size duplicate clusters — how real corpora grow), and
  per-gram posting-list sizes stay BOUNDED (each marker variant is
  confined to its 3-copy group), keeping the exact posting-join
  operators' Σ freq² linear in the corpus. The original round-7
  perturbation (marker every 5 words) left ~half of each copy's
  shingles shared with EVERY sibling copy: posting sizes grew with
  the factor, Σ freq² quadratically, and the round-8 sf10 runs of
  ngram_jaccard_pairs / ngram_containment_pairs timed out at 30 min
  measuring that data artifact (SCALE.md §6d). ``n_chars`` is
  recomputed from the perturbed text.
- ``embeddings``: vec ids shifted; copies > 0 are REPLACED by
  deterministic pseudo-random directions (per-element shader-style
  hash of (vec_id, copy-group, element) — uniform in [-0.5, 0.5], so
  cross-copy cosines concentrate around 0 +- 1/sqrt(dim) and the true
  pair set above any threshold >= 0.8 stays flat), EXCEPT that copies
  are grouped in threes sharing one direction: each (vec_id, group)
  plants a 3-clique of exact near-dups, so the true-pair count grows
  LINEARLY with the copy factor — the way real corpora grow (more
  fixed-size duplicate clusters, not ever-fatter ones). The original
  round-4 sinusoidal noise was structured (one frequency across all
  elements), leaving copies mutually correlated ABOVE 0.8 and making
  the true pair set quadratic in the factor — measured 221 pairs at
  sf0.1 -> 2.17M at sf1 at threshold 0.4 — which benchmarks the data
  artifact, not the operator.
- dims (``region nation customer supplier part``) copy through
  unchanged — dimensions don't grow 10x when facts do.

Everything is pure DataFrame ops (narrow per-copy maps + union), seeded
by the copy index — fully deterministic. Usage:

    python scripts/make_scale_data.py [src_sf_dir] [dst_dir] [factor]

Defaults: /root/testdata/sf0.1 /tmp/scale_sf1 10
"""

from __future__ import annotations

import os
import sys

# the checkout this script sits in, whatever the working directory
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

KEY_OFFSET = 1 << 33  # far above any sf0.1 key


def main() -> int:
    from pyspark.sql import functions as F

    from facolos_data_pipelines_spark.session import build_spark, load_tables

    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/scale_sf1"
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    spark = build_spark(app_name="make-scale-data")
    t = load_tables(spark, src)

    def shifted(df, key_cols: dict[str, int], i: int):
        out = df
        for c, mult in key_cols.items():
            out = out.withColumn(c, F.col(c) + F.lit(i * mult))
        return out

    def union_copies(df, key_cols: dict[str, int], perturb=None):
        parts = []
        for i in range(factor):
            cp = shifted(df, key_cols, i)
            if perturb is not None and i > 0:
                cp = perturb(cp, i)
            parts.append(cp)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def perturb_documents(df, i: int):
        # copies in groups of three share one marker -> 3-cliques of
        # EXACT duplicates (pair count linear in the factor); the
        # marker lands after EVERY SECOND word, so every 3-shingle
        # contains one and cross-group copies share zero shingles
        group = (i - 1) // 3
        words = F.split(F.col("text"), " ")
        marked = F.transform(
            words,
            lambda w, j: F.when(
                j % 2 == F.lit(0), F.concat(w, F.lit(f" q{group}z"))
            ).otherwise(w),
        )
        text = F.array_join(marked, " ")
        return df.withColumn("text", text).withColumn(
            "n_chars", F.length("text").cast("long")
        )

    def perturb_embeddings(df, i: int):
        # copy i >= 1: fresh pseudo-random direction per (vec_id,
        # copy-GROUP, element) — groups of three consecutive copies
        # share a direction, planting fixed-size 3-cliques of exact
        # near-dups (true pairs grow linearly with the factor) while
        # everything else decorrelates (elementwise shader hash:
        # fract(sin(mix) * 43758.5453), uniform enough that 64-dim
        # cosines concentrate at 0 +- 0.125)
        group = (i - 1) // 3
        # perturb runs AFTER the id shift, so recover the copy-stable
        # BASE id — hashing the shifted id would give every copy in a
        # group a different direction and plant no cliques at all
        base_id = F.pmod(F.col("vec_id"), F.lit(10_000_000))
        mix = (
            base_id.cast("double") * F.lit(100003.0)
            + F.lit(float(group * 7919))
        )

        def rand_elem(x, j):
            h = F.sin((mix + j.cast("double") * F.lit(104729.0)) * F.lit(12.9898)) * F.lit(
                43758.5453
            )
            return (h - F.floor(h) - F.lit(0.5)).cast("float")

        return df.withColumn(
            "embedding", F.transform(F.col("embedding"), rand_elem)
        )

    plans = {
        "region": t["region"],
        "nation": t["nation"],
        "customer": t["customer"],
        "supplier": t["supplier"],
        "part": t["part"],
        "orders": union_copies(t["orders"], {"o_orderkey": KEY_OFFSET}),
        "lineitem": union_copies(t["lineitem"], {"l_orderkey": KEY_OFFSET}),
        "events": union_copies(
            t["events"], {"event_id": KEY_OFFSET, "user_id": 1_000_000}
        ),
        "documents": union_copies(
            t["documents"], {"doc_id": 10_000_000}, perturb_documents
        ),
        "embeddings": union_copies(
            t["embeddings"], {"vec_id": 10_000_000}, perturb_embeddings
        ),
    }
    for name, df in plans.items():
        df.write.mode("overwrite").parquet(f"{dst}/{name}.parquet")
        print(f"wrote {dst}/{name}.parquet")
    for name in plans:
        n = spark.read.parquet(f"{dst}/{name}.parquet").count()
        print(f"{name}: {n} rows")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

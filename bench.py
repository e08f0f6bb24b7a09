"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR.

Runs every ``__spark_entry__.queries()`` entry, in ``queries()`` order,
on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": ..., "value": total_sec, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...}

Each query is forced end-to-end with a noop write (full execution, no
driver-side collect of large results — the cluster-realistic cost).

Noise control: every query runs $SPARK_GRAFT_BENCH_REPEATS times
(default 3) in interleaved passes and reports the per-query MEDIAN —
single-execution timings on a shared local[32] JVM vary by 2-3x
(GC pauses, codegen compilation racing other queries), which round 2
demonstrated by "regressing" untouched code paths. ``value`` is the sum
of medians over the timed queries.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    import __spark_entry__ as entry_mod
    from facolos_data_pipelines_spark.session import build_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))

    # build_spark's periodicGC=60s default is load-bearing here: the
    # bench executes the full query surface x 3 passes in one JVM
    # (178 queries when measured), and without it
    # checkpoint/broadcast blocks accumulate until the memory store
    # evicts working data (measured 326.7 -> 247.7 s on this surface;
    # ks_drift alone 6.9 -> 2.5 s — see session.build_spark).
    spark = build_spark(app_name="bench")
    # Warm-up: touch every table once so first timed query doesn't pay
    # filesystem/codegen cold-start.
    from facolos_data_pipelines_spark.session import load_tables

    for df in load_tables(spark, sf_dir).values():
        df.count()

    qs = entry_mod.queries()
    names = list(qs)
    # Optional subset (scale-curve runs): comma-separated query names.
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if subset:
        keep = {s.strip() for s in subset.split(",") if s.strip()}
        unknown = keep - set(names)
        if unknown:
            raise SystemExit(f"unknown bench queries: {sorted(unknown)}")
        names = [n for n in names if n in keep]
    samples: dict[str, list[float]] = {name: [] for name in names}
    for _ in range(repeats):
        for name in names:
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples[name].append(time.time() - t0)
    timings = {name: round(statistics.median(samples[name]), 3) for name in names}
    total = round(sum(timings.values()), 3)
    # The stable round-over-round signal: sum of the RECORDED isolated
    # baselines (BENCH_ISOLATED.json, a frozen baseline of warm
    # single-process medians taken at 32 cores) over this run's 10
    # slowest queries. The contended total above swings 1.3x+ with
    # machine state; the committed baselines don't. Reported
    # as null until every one of the 10 has a recorded baseline, so a
    # partially-covered figure can't masquerade as the full one.
    iso_top10 = None
    iso_missing: list[str] = []
    iso_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_ISOLATED.json"
    )
    slowest10 = [
        q for q, _ in sorted(timings.items(), key=lambda kv: kv[1], reverse=True)
    ][:10]
    try:
        with open(iso_path) as f:
            iso_bucket = json.load(f).get(str(sf), {})
        iso_baseline = iso_bucket.get("baseline", iso_bucket)
        iso_missing = [q for q in slowest10 if q not in iso_baseline]
        if slowest10 and not iso_missing:
            iso_top10 = round(sum(iso_baseline[q] for q in slowest10), 3)
    except (OSError, ValueError):
        iso_missing = slowest10
    detail = {
        "metric": "headline_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "repeats": repeats,
        "sf": sf,
        # full-surface runs share one JVM back-to-back, so individual
        # timings carry scheduling contention; isolated-process medians
        # are the apples-to-apples per-query numbers
        "timing_mode": "contended-sequential",
        "isolated_top10": iso_top10,
        "isolated_top10_source": "BENCH_ISOLATED.json baselines",
        "isolated_top10_missing": iso_missing,
    }
    # Full per-query map goes to a file: round 4 proved that inlining 134
    # timings in the printed line overflows the driver's tail capture
    # (BENCH_r04.json recorded "parsed": null). The printed line stays
    # compact; slowest-5 gives the tail a human-readable headline.
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"),
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    # The printed line carries as many per-query timings as fit:
    # round 4 proved the driver's tail capture is 2000 characters, so
    # inlining all 182 entries (4.8 KB) truncates the line head and the
    # driver records "parsed": null. Instead the `queries` dict grows
    # greedily, slowest-first, up to a byte budget with headroom for
    # shutdown noise after the print — ADDITIONS ONLY vs the historic
    # top-5 (the 5 slowest are always the first 5 added), so round-over-
    # round PERF comparisons gain coverage without losing any key. The
    # full 182-entry map remains in the detail artifact.
    ranked = sorted(timings.items(), key=lambda kv: kv[1], reverse=True)
    line_budget = int(os.environ.get("SPARK_GRAFT_BENCH_LINE_BUDGET", "1700"))

    def _line(n: int) -> str:
        return json.dumps(
            {
                "metric": "headline_query_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": dict(ranked[:n]),
                "n_queries": len(timings),
                "repeats": repeats,
                "sf": sf,
                "isolated_top10": iso_top10,
                "detail": os.path.basename(detail_path),
            }
        )

    n_show = min(5, len(ranked))
    while n_show < len(ranked) and len(_line(n_show + 1)) <= line_budget:
        n_show += 1
    print(_line(n_show))


if __name__ == "__main__":
    main()

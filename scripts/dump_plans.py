"""Generate PLANS.md: a condensed physical-plan inventory for every
``queries()`` entry — the plan-shape evidence SCALE.md's claims rest
on, regenerated from the actual optimizer output so a reviewer can
audit exchanges/joins/codegen without re-running anything.

For each query: the operator-node histogram (exchanges, join
strategies, aggregates, windows, generates) plus the pushed filters /
read schemas of every parquet scan. Plans are compiled only (no
execution), so the full dump takes seconds. Usage:

    python scripts/dump_plans.py [sf_dir] [out_md]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

# the checkout this script sits in, whatever the working directory
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

INTERESTING = (
    "Exchange",
    "BroadcastExchange",
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
    "Expand",
    "Window",
    "WindowGroupLimit",
    "Sort",
    "TakeOrderedAndProject",
    "Generate",
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "BatchEvalPython",
    "Scan",
)


def main() -> int:
    from facolos_data_pipelines_spark.session import build_spark, load_tables

    import __spark_entry__ as entry_mod

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_md = sys.argv[2] if len(sys.argv) > 2 else "PLANS.md"

    spark = build_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    load_tables(spark, sf_dir)
    explain_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )

    lines = [
        "# PLANS — physical-plan inventory (generated by scripts/dump_plans.py)",
        "",
        f"Compiled (not executed) against `{sf_dir}` with the session",
        "defaults of `session.build_spark` (AQE on, ANSI off, UTC). One row",
        "per `queries()` entry: operator-node histogram + per-scan pushdown",
        "evidence. Note AQE may still replace sort-merge joins with",
        "broadcast joins at runtime; this is the static plan.",
        "",
        "Queries are compiled under `eager.plan_only_mode()`: eager",
        "mid-plan checkpoints (`eager.materialize`) become no-ops so the",
        "expensive pre-checkpoint subtrees (pair searches, LSH buckets)",
        "stay visible instead of appearing as an opaque `Scan ExistingRDD`;",
        "iterative operators",
        "(connected components) compile ONE representative propagation",
        "round. At runtime those subtrees are materialized once and the",
        "loops run to convergence — see the operators' docstrings.",
        "",
        "| query | plan nodes | scans (ReadSchema / PushedFilters) |",
        "|---|---|---|",
    ]
    from facolos_data_pipelines_spark.eager import plan_only_mode

    qs = entry_mod.queries()
    for name, fn in qs.items():
        try:
            with plan_only_mode():
                df = fn(spark, sf_dir)
                plan = df._jdf.queryExecution().explainString(explain_mode)
        except Exception as exc:  # noqa: BLE001 — record, keep going
            lines.append(f"| {name} | ERROR: {str(exc)[:80]} | |")
            continue
        nodes = re.findall(r"\(\d+\) (\w+)", plan)
        counts: dict[str, int] = {}
        for n in nodes:
            for key in INTERESTING:
                if n.startswith(key):
                    counts[key] = counts.get(key, 0) + 1
                    break
        hist = ", ".join(f"{k}×{v}" for k, v in sorted(counts.items()))
        scans = []
        for m in re.finditer(
            r"ReadSchema: (struct<[^\n]*)", plan
        ):
            schema = m.group(1)
            schema = schema if len(schema) <= 80 else schema[:77] + "..."
            scans.append(schema.replace("|", "\\|"))
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        pushed_s = "; ".join(p for p in pushed if p)
        cell = "<br>".join(scans[:4]) + (
            f"<br>PushedFilters: {pushed_s[:120]}" if pushed_s else ""
        )
        lines.append(f"| {name} | {hist} | {cell} |")
    with open(out_md, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out_md} ({len(qs)} queries)")
    return 0


if __name__ == "__main__":
    sys.exit(main())

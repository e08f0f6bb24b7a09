"""Dump ``.explain("formatted")`` for named queries() entries.

Usage:
    python scripts/explain_query.py OUT_DIR SUFFIX query [query ...]

Writes OUT_DIR/<query>_<SUFFIX>.txt per query. Plans are compiled under
``eager.plan_only_mode()`` (as dump_plans.py does) so eager
mid-plan checkpoints stay visible instead of appearing as opaque
``Scan ExistingRDD`` nodes. Honors SPARK_GRAFT_SF_DIR (default sf0.1 —
the bench scale, so AQE/broadcast estimates match what the bench sees).
"""

from __future__ import annotations

import os
import sys

# the checkout this script sits in, whatever the working directory
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    out_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)

    import __spark_entry__ as entry_mod
    from facolos_data_pipelines_spark.eager import plan_only_mode
    from facolos_data_pipelines_spark.session import build_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_spark(app_name="explain")
    qs = entry_mod.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    with plan_only_mode():
        for name in names:
            df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"wrote {path} ({len(plan)} bytes)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

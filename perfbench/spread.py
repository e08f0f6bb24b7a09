"""Run the benchmark over several seeds and report each metric's median
and quartile spread (IQR / median, as ``statistics.quantiles(n=4)``
gives the quartiles), plus the wall time of every run.

    python3 perfbench/spread.py --workload llm_corpus --seeds 1-5 [--trace 1] [--json out.json]

Runs are sequential, from the checkout root. With ``--trace 1`` it also
reports, per job counter (``jobs``, ``build_jobs``, ``exec_jobs``),
whether the count repeated exactly on every run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-5")
    p.add_argument("--seconds", type=int)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--json")
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    runs = []
    for seed in seeds(a.seeds):
        cmd = [*bench["command"], "--workload", a.workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(a.trace)]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        runs.append({"seed": seed, "run_wall_s": wall, **res})
        print(f"seed {seed}: {wall:.1f} s correct={res['correct']} failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                         if not k.endswith("jobs") or a.trace == 0)[:400], flush=True)
    summary = {}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        entry = {"median": med}
        if len(vals) >= 2:
            q1, _, q3 = statistics.quantiles(vals, n=4)
            entry["iqr_frac"] = (q3 - q1) / med if med else None
        if name.endswith("jobs"):
            entry["repeats_exactly"] = len(set(vals)) == 1
        summary[name] = entry
    out = {"workload": a.workload, "seconds": seconds, "trace": a.trace, "runs": runs,
           "summary": summary,
           "max_run_wall_s": max(r["run_wall_s"] for r in runs),
           "all_correct": all(r["correct"] for r in runs)}
    for name, e in summary.items():
        if a.trace == 0 or name.endswith("jobs"):
            print(f"{name}: median={e['median']:.4g} iqr/median={e.get('iqr_frac')}"
                  + (f" repeats={e['repeats_exactly']}" if "repeats_exactly" in e else ""))
    print(f"max run wall {out['max_run_wall_s']:.1f} s, all correct: {out['all_correct']}")
    if a.json:
        with open(a.json, "w") as f:
            json.dump(out, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Pipeline benchmark for facolos_data_pipelines_spark.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload elt_cycle --seed 1 --seconds 10 --trace 0

Builds a ``local[<cpus>]`` session from the checkout's own package and
makes the workload's inputs from ``--seed`` under ``.perfbench_work/``
(removed at exit). Set-up (session build, table load, one trivial
action) runs once cold, which launches the JVM, then ``SETUP_REPEATS``
more times, stopping and rebuilding the session on the same JVM in
between; ``setup_s`` is the median of those repeats. The workload then
runs its fixed plan of timed items (see ``workloads.py``); outputs are
checked afterwards. The last stdout line is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``attempted`` counts planned items plus output checks and exercise
guards; ``failed`` counts raising or unrun items, failed endpoints and
failed checks. ``--trace 0`` reports the end-to-end metrics. ``--trace
1`` wraps every layer function in a span (see ``spans.py``), traces
every timed item, and reports the per-layer metrics: span self time,
Spark jobs, executor task time and shuffle megabytes from the event
log, plus unattributed time and the tracer's own time. A detail file
with provenance, per-item times and spans goes to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
from collections import defaultdict

from workloads import ENTRY_QUERIES, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3

# Wall times on a shared box move with its other load; the CPU time of
# the driver and its JVM moves much less, so it is the steady measure of
# the same work. Peak memory and the per-step latency, which spread
# wider than any allowed bound here, are reported per layer.
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "1/s",
    "cpu_s": "s",
}

# (span label, stats) for the per-layer metrics; names are label.stat
LAYER_STATS = [
    ("session.build_spark", ["self_s"]),
    ("session.load_tables", ["self_s"]),
    ("session.cold_setup", ["wall_s"]),
    ("session.driver_and_jvm", ["peak_rss_mb"]),
    ("plan.step", ["wall_s"]),
    ("cli.build_endpoints", ["self_s"]),
    ("runner.run_incremental_cycle", ["self_s", "jobs", "task_s"]),
    ("registry.due_sources", ["self_s", "jobs"]),
    ("registry.mark_extracted", ["self_s", "jobs"]),
    ("conform.flatten_tiktok_orders", ["self_s"]),
    ("conform.flatten_misa_sale_orders", ["self_s"]),
    ("conform.add_etl_metadata", ["self_s"]),
    ("conform.align_to_schema", ["self_s"]),
    ("conform.truncate_strings", ["self_s"]),
    ("io.append_with_pk_rejection", ["self_s", "jobs", "task_s", "shuffle_mb", "keep_ratio"]),
    ("io.upsert_parquet", ["self_s", "jobs", "task_s", "shuffle_mb"]),
    ("io.table_exists", ["calls", "self_s"]),
    ("checks.multi_table_summary", ["self_s"]),
    ("checks.quality_gate", ["self_s"]),
    ("checks.hist_state", ["self_s"]),
    ("checks.pinned_edges", ["self_s"]),
    ("curation.curate_corpus", ["self_s", "jobs", "task_s"]),
    ("text.quality_score", ["self_s"]),
    ("text.fingerprint", ["self_s"]),
    ("text.decontaminate", ["self_s", "jobs"]),
    ("sampling.filter_by_score_quantile", ["self_s", "jobs"]),
    ("dedup.minhash_dedup", ["self_s", "jobs", "task_s", "shuffle_mb"]),
    ("dedup.minhash_lsh_buckets", ["self_s"]),
    ("dedup_minhash.lsh_candidate_pairs", ["self_s"]),
    ("dedup_minhash.verified_near_dup_pairs", ["self_s"]),
    ("dedup_embedding.embedding_band_state", ["self_s"]),
    ("dedup_embedding.embedding_dedup", ["self_s", "jobs"]),
    ("streaming.near_dup_filter_sink.batch",
     ["self_s", "jobs", "task_s", "shuffle_mb", "keep_ratio"]),
    ("streaming.embedding_near_dup_sink.batch",
     ["self_s", "jobs", "task_s", "shuffle_mb", "keep_ratio"]),
    ("streaming.hist_state_sink.batch", ["self_s", "jobs", "task_s"]),
    ("streaming.compact_bucket_store", ["self_s", "jobs"]),
    ("streaming.replay", ["wall_s"]),
    *[(f"entry.{q}", ["build_s", "build_jobs", "exec_s", "exec_jobs"]) for q in ENTRY_QUERIES],
    ("trace", ["wall_s", "unattributed_s", "unattributed_frac", "overhead_s", "jobs"]),
]
LAYER_UNITS = {"self_s": "s", "task_s": "s", "wall_s": "s", "unattributed_s": "s",
               "overhead_s": "s", "build_s": "s", "exec_s": "s", "jobs": "count",
               "build_jobs": "count", "exec_jobs": "count", "calls": "count",
               "shuffle_mb": "MB", "peak_rss_mb": "MB", "keep_ratio": "ratio",
               "unattributed_frac": "ratio"}


def per_layer_names() -> list[str]:
    return [f"{label}.{stat}" for label, stats in LAYER_STATS for stat in stats]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def source_digest() -> str:
    """sha256 over the package sources (the checkout need not be a git
    repository, so this stands in for the commit id)."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "facolos_data_pipelines_spark")
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


def _proc_tree(root_pid: int) -> list[int]:
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                children[ppid].append(int(d))
            except (OSError, IndexError, ValueError):
                pass
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus its JVM (the java
    process below it; Python workers of the JVM are not counted)."""
    total = _status_kb(os.getpid(), "VmHWM")
    for pid in _proc_tree(os.getpid())[1:]:
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    total += _status_kb(pid, "VmHWM")
        except OSError:
            pass
    return total / 1024.0


def cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process, the JVM
    below it and their reaped children."""
    ticks = 0
    for pid in _proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except OSError:
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def layer_metrics(spans, groups, ep, workload, setup, overhead, rss) -> dict[str, float]:
    """Per-layer stats of the traced episode. Per timed item, sum each
    span label's self time, calls, jobs, task time and shuffle; report
    the median over the *steps* the label ran in, or, for a label that
    runs only in other items (store compaction), its sum over them.
    ``entry.*`` spans report their inclusive time and the jobs of their
    whole subtree."""
    kinds = [it["kind"] for it in ep.items]
    per = defaultdict(lambda: defaultdict(lambda: defaultdict(float)))
    top = defaultdict(float)
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s["group"])

    def subtree_jobs(group: str) -> float:
        return groups.get(group, {}).get("jobs", 0) + sum(subtree_jobs(c) for c in children[group])

    jobs = 0
    out = defaultdict(float)
    for s in spans:
        g = groups.get(s["group"], {})
        jobs += g.get("jobs", 0)
        if s["name"].startswith("entry."):
            label, what = s["name"].rsplit(".", 1)
            out[f"{label}.{what}_s"] += s["dur_s"]
            out[f"{label}.{what}_jobs"] += subtree_jobs(s["group"])
        d = per[s["name"]][s["step"]]
        d["self_s"] += s["dur_s"] - s["child_s"]
        d["calls"] += 1
        for k in ("jobs", "task_s", "shuffle_mb"):
            d[k] += g.get(k, 0)
        if s["parent"] is None:
            top[s["step"]] += s["dur_s"]
    for label, stats in LAYER_STATS:
        items = per.get(label, {})
        steps = [k for k in items if kinds[k] == "step"]
        for stat in stats:
            if stat in ("self_s", "jobs", "task_s", "shuffle_mb", "calls"):
                vals = [items[k][stat] for k in (steps or items)]
                out[f"{label}.{stat}"] = (statistics.median(vals) if steps else sum(vals))
    out["session.build_spark.self_s"] = statistics.median(setup["build_s"])
    out["session.load_tables.self_s"] = statistics.median(setup["load_s"])
    out["session.cold_setup.wall_s"] = setup["cold_s"]
    out["session.driver_and_jvm.peak_rss_mb"] = rss
    out["plan.step.wall_s"] = statistics.median(ep.walls("step") or [0.0])
    wall = sum(it["wall_s"] for it in ep.items)
    out["trace.wall_s"] = wall
    out["trace.unattributed_s"] = sum(
        it["wall_s"] - top[k] for k, it in enumerate(ep.items)
    )
    out["trace.unattributed_frac"] = out["trace.unattributed_s"] / wall if wall else 0.0
    out["trace.overhead_s"] = sum(overhead.values())
    out["trace.jobs"] = jobs
    out.update(workload.layer_extras(ep, spans))
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import facolos_data_pipelines_spark  # noqa: F401
        import pyspark
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"expected one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    cpus = str(os.cpu_count() or 1)
    os.environ.setdefault("SPARK_GRAFT_CPUS", cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    import tempfile

    tempfile.tempdir = tmp

    from facolos_data_pipelines_spark.session import build_spark
    from spans import Tracer, import_layers, stage_metrics

    wl = WORKLOADS[args.workload](os.path.join(work, "data"), args.seed)
    os.makedirs(wl.dir)
    event_dir = os.path.join(work, "events")
    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if args.trace:
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
        })
    spark = None
    phases = {}
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = now - t_phase
        t_phase = now

    try:
        wl.generate()
        phase("generate_s")
        setup = {"total_s": [], "build_s": [], "load_s": []}
        for i in range(SETUP_REPEATS + 1):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = build_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
            t1 = time.perf_counter()
            wl.load(spark)
            spark.range(1000).selectExpr("sum(id)").collect()
            t2 = time.perf_counter()
            if i == 0:
                setup["cold_s"] = t2 - t0
                continue
            setup["build_s"].append(t1 - t0)
            setup["load_s"].append(t2 - t1)
            setup["total_s"].append(t2 - t0)
        phase("setup_s")
        spans, layers, tracer = [], {}, None
        if args.trace:
            import_layers()
            tracer = Tracer(spark.sparkContext)
            tracer.install()
        cpu0 = cpu_s()
        try:
            ep = wl.episode(spark, args.seconds, tracer)
        finally:
            if tracer is not None:
                tracer.uninstall()
                spans = tracer.spans
        ep_cpu_s = cpu_s() - cpu0
        phase("episode_s")
        if not ep.failed:
            wl.check(spark, ep)
        phase("check_s")
        rss = peak_rss_mb()
        stop_spark(spark)
        spark = None
        phase("stop_s")

        wall = sum(it["wall_s"] for it in ep.items)
        if args.trace:
            groups = stage_metrics(event_dir)
            layers = layer_metrics(spans, groups, ep, wl, setup, tracer.overhead, rss)
            metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": LAYER_UNITS[n.rsplit(".", 1)[1]]}
                       for n in per_layer_names()}
        else:
            e2e = {
                "setup_s": statistics.median(setup["total_s"]),
                "wall_s": wall,
                "rows_per_s": sum(it["rows"] for it in ep.items) / wall if wall else 0.0,
                "cpu_s": ep_cpu_s,
            }
            metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END.items()}
        failed = ep.failed + len(wl.failures)
        attempted = max(1, ep.planned + wl.checks)
        provenance = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": os.cpu_count(),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "inputs": {"generator": "perfbench/gen.py, from the seed; no scale dir",
                       **wl.scale},
            "git_commit": git_commit(), "source_sha256": source_digest(),
            "pyspark": pyspark.__version__,
        }
        detail = {
            "provenance": provenance,
            "setup": setup,
            "phases": phases,
            "items": ep.items,
            "errors": ep.errors,
            "check_failures": wl.failures,
            "spans": [{k: v for k, v in s.items() if k != "t0"} for s in spans],
            "layers": layers,
        }
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(
            out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
        ), "w") as f:
            json.dump(detail, f, indent=1, default=str)
        for msg in ep.errors + wl.failures:
            print(f"perfbench: FAILED {msg}", file=sys.stderr)
        print(json.dumps({"provenance": provenance}))
        print(json.dumps({
            "correct": failed == 0 and bool(ep.items),
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())

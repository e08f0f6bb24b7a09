"""Span tracing from outside the program.

Each traced public function is replaced, for the length of a traced
episode, by a wrapper installed wherever a caller looks the name up:
the defining module and every package module that imported the name.
The benchmark's own code can open spans too (:meth:`Tracer.span`).
A span records wall time, its parent span, the timed item it ran in
and its own Spark job group (set on entry, the parent's restored on
exit), so the Spark event log can later attribute jobs, executor run
time and shuffle bytes to the innermost span that started them.

Spans stay in memory; :func:`stage_metrics` joins them to the event log
after the SparkContext stopped and the log is complete.
"""

from __future__ import annotations

import contextlib
import glob
import importlib
import json
import sys
import time
from collections import defaultdict

GROUP_PROP = "spark.jobGroup.id"
SHUFFLE_BYTES = (
    "internal.metrics.shuffle.read.remoteBytesRead",
    "internal.metrics.shuffle.read.localBytesRead",
    "internal.metrics.shuffle.write.bytesWritten",
)
PACKAGE = "facolos_data_pipelines_spark"

# (span label, defining module, attribute). A label ending in ".batch"
# names a foreachBatch factory: the callable it returns is what gets
# traced, once per micro-batch.
LAYER_FUNCTIONS = [
    ("session.build_spark", "session", "build_spark"),
    ("session.load_tables", "session", "load_tables"),
    ("cli.build_endpoints", "cli", "build_endpoints"),
    ("runner.run_incremental_cycle", "pipelines.runner", "run_incremental_cycle"),
    ("registry.due_sources", "pipelines.registry", "due_sources"),
    ("registry.mark_extracted", "pipelines.registry", "mark_extracted"),
    ("conform.flatten_tiktok_orders", "operators.conform", "flatten_tiktok_orders"),
    ("conform.flatten_misa_sale_orders", "operators.conform", "flatten_misa_sale_orders"),
    ("conform.add_etl_metadata", "operators.conform", "add_etl_metadata"),
    ("conform.align_to_schema", "operators.conform", "align_to_schema"),
    ("conform.truncate_strings", "operators.conform", "truncate_strings"),
    ("io.append_with_pk_rejection", "sources.io", "append_with_pk_rejection"),
    ("io.upsert_parquet", "sources.io", "upsert_parquet"),
    ("io.table_exists", "sources.io", "table_exists"),
    ("checks.multi_table_summary", "quality.checks", "multi_table_summary"),
    ("checks.quality_gate", "quality.checks", "quality_gate"),
    ("checks.hist_state", "quality.checks", "hist_state"),
    ("checks.pinned_edges", "quality.checks", "pinned_edges"),
    ("curation.curate_corpus", "pipelines.curation", "curate_corpus"),
    ("text.quality_score", "operators.text_quality", "quality_score"),
    ("text.fingerprint", "operators.text_quality", "fingerprint"),
    ("text.decontaminate", "operators.text_clean", "decontaminate"),
    ("sampling.filter_by_score_quantile", "operators.sampling", "filter_by_score_quantile"),
    ("dedup.minhash_dedup", "operators.dedup_minhash", "minhash_dedup"),
    ("dedup.minhash_lsh_buckets", "operators.dedup_minhash", "minhash_lsh_buckets"),
    ("dedup_minhash.lsh_candidate_pairs", "operators.dedup_minhash", "lsh_candidate_pairs"),
    ("dedup_minhash.verified_near_dup_pairs", "operators.dedup_minhash", "verified_near_dup_pairs"),
    ("dedup_embedding.embedding_band_state", "operators.dedup_embedding", "embedding_band_state"),
    ("dedup_embedding.embedding_dedup", "operators.dedup_embedding", "embedding_dedup"),
    ("streaming.near_dup_filter_sink.batch", "streaming.pipeline", "near_dup_filter_sink"),
    ("streaming.embedding_near_dup_sink.batch", "streaming.pipeline", "embedding_near_dup_sink"),
    ("streaming.hist_state_sink.batch", "streaming.pipeline", "hist_state_sink"),
    ("streaming.compact_bucket_store", "streaming.pipeline", "compact_bucket_store"),
]


class Tracer:
    """In-memory span recorder. ``step`` labels the timed item the next
    spans belong to; while it is ``None`` (set-up, output checks) the
    wrappers only call through. ``overhead`` sums, per item, the time
    the tracer itself spends around the traced calls: the cost of
    tracing."""

    def __init__(self, spark_context):
        self.sc = spark_context
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.step = None
        self.overhead: dict = defaultdict(float)
        self._seq = 0
        self._patched: list[tuple[object, str, object]] = []

    def _enter(self, label: str) -> dict:
        self._seq += 1
        rec = {
            "name": label,
            "group": f"perfbench-{self._seq}",
            "parent": self.stack[-1]["group"] if self.stack else None,
            "step": self.step,
            "child_s": 0.0,
        }
        self.sc.setLocalProperty(GROUP_PROP, rec["group"])
        self.stack.append(rec)
        rec["t0"] = time.perf_counter()
        return rec

    def _exit(self, rec: dict, t_in: float) -> None:
        t_out = time.perf_counter()
        rec["dur_s"] = t_out - rec["t0"]
        self.stack.pop()
        parent = self.stack[-1] if self.stack else None
        self.sc.setLocalProperty(GROUP_PROP, parent["group"] if parent else None)
        if parent is not None:
            parent["child_s"] += rec["dur_s"]
        self.spans.append(rec)
        self.overhead[rec["step"]] += (rec["t0"] - t_in) + (time.perf_counter() - t_out)

    @contextlib.contextmanager
    def span(self, label: str):
        """A span around a block of the caller's own code."""
        if self.step is None:
            yield
            return
        t_in = time.perf_counter()
        rec = self._enter(label)
        try:
            yield
        finally:
            self._exit(rec, t_in)

    def wrap(self, label: str, fn):
        def traced(*args, **kwargs):
            if self.step is None:
                return fn(*args, **kwargs)
            t_in = time.perf_counter()
            rec = self._enter(label)
            try:
                out = fn(*args, **kwargs)
            finally:
                self._exit(rec, t_in)
            if isinstance(out, (int, bool)):
                rec["ret"] = int(out)
            rec["args"] = [a for a in args if isinstance(a, str)][:2]
            return out

        traced.__wrapped__ = fn
        return traced

    def wrap_factory(self, label: str, factory):
        def traced_factory(*args, **kwargs):
            return self.wrap(label, factory(*args, **kwargs))

        traced_factory.__wrapped__ = factory
        return traced_factory

    def install(self) -> None:
        """Patch every layer function in every loaded package module
        (and ``__spark_entry__``) that holds the original object."""
        for label, mod_name, attr in LAYER_FUNCTIONS:
            orig = getattr(importlib.import_module(f"{PACKAGE}.{mod_name}"), attr)
            make = self.wrap_factory if label.endswith(".batch") else self.wrap
            wrapper = make(label, orig)
            for name, mod in list(sys.modules.items()):
                if mod is None or not (name.startswith(PACKAGE) or name == "__spark_entry__"):
                    continue
                if getattr(mod, attr, None) is orig:
                    setattr(mod, attr, wrapper)
                    self._patched.append((mod, attr, orig))

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()


def import_layers() -> None:
    """Import every module a layer function lives in or is re-exported
    from, so :meth:`Tracer.install` finds all of their bindings."""
    for sub in (
        "cli", "session", "pipelines", "pipelines.runner", "pipelines.registry",
        "pipelines.curation", "operators.conform", "operators.text",
        "operators.text_quality", "operators.text_clean", "operators.sampling",
        "operators.dedup", "operators.dedup_minhash", "operators.dedup_embedding",
        "sources.io", "quality", "quality.checks", "streaming", "streaming.pipeline",
    ):
        importlib.import_module(f"{PACKAGE}.{sub}")


def _events(app_dir: str):
    """Events of one application, in order. Spark 4 writes a directory
    per application holding events_<n>_<app> files (plus an empty
    appstatus marker); a single-file log is read as is."""
    files = sorted(glob.glob(f"{app_dir}/events_*"),
                   key=lambda p: int(p.rsplit("/", 1)[1].split("_")[1]))
    for path in files or [app_dir]:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def stage_metrics(event_log_dir: str) -> dict[str, dict]:
    """Job group -> {jobs, task_s, shuffle_mb} from the Spark event logs
    under ``event_log_dir``. A stage counts for the first job that
    listed it."""
    job_group: dict[tuple, str] = {}
    stage_job: dict[tuple, tuple] = {}
    stage_vals: dict[tuple, tuple[float, float]] = {}
    out: dict[str, dict] = defaultdict(lambda: {"jobs": 0, "task_s": 0.0, "shuffle_mb": 0.0})
    for app, app_dir in enumerate(sorted(glob.glob(f"{event_log_dir}/*"))):
        for ev in _events(app_dir):
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(GROUP_PROP)
                jid = (app, ev["Job ID"])
                if group:
                    job_group[jid] = group
                    out[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault((app, sid), jid)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}
                run_s = float(acc.get("internal.metrics.executorRunTime", 0) or 0) / 1000.0
                shuffle_mb = sum(float(acc.get(k, 0) or 0) for k in SHUFFLE_BYTES) / 2**20
                sid = (app, info["Stage ID"])
                prev = stage_vals.get(sid, (0.0, 0.0))
                stage_vals[sid] = (prev[0] + run_s, prev[1] + shuffle_mb)
    for sid, (task_s, mb) in stage_vals.items():
        group = job_group.get(stage_job.get(sid))
        if group:
            out[group]["task_s"] += task_s
            out[group]["shuffle_mb"] += mb
    return dict(out)

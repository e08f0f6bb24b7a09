"""The benchmark's workloads: each makes its inputs from a seed, drives the
package's public entry points in a closed loop from one process, and
checks the outputs afterwards, outside the timed region.

A run is one *episode*: a fresh output state, then a fixed plan of timed
items, every one of which is measured. The repeated items are *steps*
(one incremental ELT cycle, one micro-batch round through the streaming
sinks); a plan may add other timed items (a ``curate_corpus`` run, an
entry-point query, a bucket store compaction, a redelivered batch).
Because the plan is fixed, every commit measures the same work on the
same state; ``--seconds`` is the expected length of a plan, and twice it
caps a run that hangs.
"""

from __future__ import annotations

import contextlib
import math
import os
import time

import numpy as np

import gen


class Episode:
    def __init__(self):
        self.items: list[dict] = []
        self.kept: dict[str, tuple[int, int]] = {}
        self.failed = 0
        self.planned = 0
        self.errors: list[str] = []

    def walls(self, kind: str) -> list[float]:
        return [it["wall_s"] for it in self.items if it["kind"] == kind]


class Workload:
    name = ""
    scale: dict = {}
    salt = 0  # parts of one workload draw from distinct random streams

    def __init__(self, work_dir: str, seed: int):
        self.dir = work_dir
        self.seed = seed
        self.rng = np.random.default_rng([seed, self.salt])
        self.checks = 0
        self.failures: list[str] = []
        self.tracer = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def expect(self, ok: bool, what: str) -> None:
        """One output check or exercise guard; a failure is counted."""
        self.checks += 1
        if not ok:
            self.failures.append(what)

    def span(self, label: str):
        """A span of the benchmark's own code (traced runs only)."""
        return self.tracer.span(label) if self.tracer else contextlib.nullcontext()

    def generate(self) -> None:
        """Write the seeded inputs under ``self.dir``."""

    def load(self, spark) -> None:
        """Per-session set-up: load tables, pinned state."""

    def begin(self, spark, ep: Episode) -> None:
        """Fresh output state for an episode."""

    def plan(self, spark, ep: Episode) -> list[tuple[str, object]]:
        """The timed items: ``(kind, fn)`` pairs; ``fn()`` returns the
        input rows it processed."""
        raise NotImplementedError

    def episode(self, spark, seconds: float, tracer=None) -> Episode:
        """Run every planned item in order and time it. A raising item
        ends the episode; so does the cap, twice ``seconds``, and each
        item it leaves unrun counts as a failed operation."""
        ep = Episode()
        self.tracer = tracer
        self.begin(spark, ep)
        items = self.plan(spark, ep)
        ep.planned = len(items)
        start = time.perf_counter()
        for idx, (kind, fn) in enumerate(items):
            if time.perf_counter() - start > 2 * seconds:
                left = len(items) - idx
                ep.failed += left
                ep.errors.append(f"time cap of {seconds} s: {left} planned items not run")
                break
            if tracer is not None:
                tracer.step = idx
            t0 = time.perf_counter()
            try:
                rows = fn()
            except Exception as exc:  # noqa: BLE001 — a raising item is a failed operation
                ep.failed += 1
                ep.errors.append(f"{kind} {idx}: {type(exc).__name__}: {exc}"[:500])
                break
            finally:
                if tracer is not None:
                    tracer.step = None
            ep.items.append({"kind": kind, "wall_s": time.perf_counter() - t0, "rows": rows})
        self.tracer = None
        return ep

    def check(self, spark, ep: Episode) -> None:
        raise NotImplementedError

    def layer_extras(self, ep: Episode, spans: list[dict]) -> dict[str, float]:
        return {}


# ---------------------------------------------------------------------------
# elt_cycle
# ---------------------------------------------------------------------------

STAGING_TABLE = {
    "tiktok_shop_orders": "tiktok_shop_order_detail",
    "misa_sale_orders": "misa_sale_orders_flattened",
    "misa_customers": "misa_customers",
    "misa_contacts": "misa_contacts",
    "misa_stocks": "misa_stocks",
    "misa_products": "misa_products",
}


class EltCycle(Workload):
    """Landed JSON for the six endpoints -> cli.build_endpoints ->
    runner.run_incremental_cycle, consecutive cycles into one staging
    root, with a control root and a registry where every source is due.
    Cycle 0 is the initial load; the later cycles redeliver earlier
    orders and resend newer versions of earlier entities."""

    name = "elt_cycle"
    cycles = 2
    scale = {"records_per_cycle": gen.ELT_SIZES, "items_per_order": "1-6",
             "redelivered": 0.2, "newer_versions": 0.3, "cycles": cycles}

    def generate(self) -> None:
        self.landed = gen.make_landing(self.rng, self.path("landing"), self.cycles)
        self.roots = {k: self.path("out", k) for k in ("staging", "control", "registry")}

    def begin(self, spark, ep: Episode) -> None:
        from facolos_data_pipelines_spark.pipelines.registry import seed_data_sources

        seed_data_sources(spark, self.roots["registry"], [(n, "api", 0.0) for n in STAGING_TABLE])
        ep.reports = []

    def plan(self, spark, ep: Episode):
        return [("step", lambda i=i: self.cycle(spark, ep, i)) for i in range(self.cycles)]

    def cycle(self, spark, ep: Episode, i: int) -> int:
        from facolos_data_pipelines_spark.cli import build_endpoints
        from facolos_data_pipelines_spark.pipelines.runner import run_incremental_cycle

        endpoints = build_endpoints(spark, self.landed[i]["root"])
        ep.reports.append(run_incremental_cycle(
            spark, endpoints, self.roots["staging"], control_root=self.roots["control"],
            min_tables_with_data=len(STAGING_TABLE), registry_path=self.roots["registry"],
        ))
        return self.landed[i]["records"]

    def check(self, spark, ep: Episode) -> None:
        from pyspark.sql import functions as F

        n = len(ep.reports)
        last = self.landed[n - 1]
        staged = lambda name: os.path.join(self.roots["staging"], STAGING_TABLE[name])  # noqa: E731
        for i, report in enumerate(ep.reports):
            eps = report["endpoints"]
            bad = [k for k, v in eps.items() if v.get("status") != "success"]
            ep.failed += len(bad)
            self.expect(not bad, f"cycle {i}: endpoints failed {bad}")
            self.expect(bool(report.get("quality", {}).get("passed")), f"cycle {i}: gate failed")
            for name in gen.APPEND_ENDPOINTS:
                got = eps.get(name, {}).get("records")
                want = self.landed[i]["new_keys"][name]
                self.expect(got == want, f"cycle {i} {name}: appended {got}, new keys {want}")
        for name in gen.APPEND_ENDPOINTS:
            got = spark.read.parquet(staged(name)).count()
            want = last["staged_rows"][name]
            self.expect(got == want, f"{name}: staged {got} rows, {want} distinct keys")
        for name, key in gen.UPSERT_KEY.items():
            rows = spark.read.parquet(staged(name)).select(key, "description").collect()
            got = {r[0]: r[1] for r in rows}
            self.expect(len(rows) == len(got), f"{name}: duplicate keys after upsert")
            self.expect(got == last["latest"][name], f"{name}: not one row per key at latest version")
        runs = (
            spark.read.parquet(os.path.join(self.roots["control"], "batch_runs"))
            .groupBy("source_name").agg(
                F.count("*").alias("n"),
                F.sum((F.col("status") != "success").cast("int")).alias("bad"),
            ).collect()
        )
        self.expect(
            {r["source_name"]: (r["n"], r["bad"]) for r in runs}
            == {s: (n, 0) for s in STAGING_TABLE},
            "batch_runs: not one success row per endpoint per cycle",
        )
        # exercise guards: the cycles must hit PK rejection and upsert updates
        rejected = sum(
            self.landed[i]["offered"][name] - self.landed[i]["new_keys"][name]
            for i in range(n) for name in gen.APPEND_ENDPOINTS
        )
        self.expect(rejected > 0, "guard: no PK rejections exercised")
        self.expect(sum(self.landed[i]["updated"] for i in range(n)) > 0,
                    "guard: no upsert updates exercised")

    def layer_extras(self, ep: Episode, spans: list[dict]) -> dict[str, float]:
        offered = {STAGING_TABLE[n]: n for n in gen.APPEND_ENDPOINTS}
        kept = total = 0
        for s in spans:
            if s["name"] == "io.append_with_pk_rejection" and s["step"] is not None:
                table = os.path.basename(s["args"][0]) if s["args"] else ""
                if table in offered and "ret" in s:
                    kept += s["ret"]
                    total += self.landed[s["step"]]["offered"][offered[table]]
        return {"io.append_with_pk_rejection.keep_ratio": kept / total if total else 0.0}


# ---------------------------------------------------------------------------
# curate_corpus
# ---------------------------------------------------------------------------

# __spark_entry__ builders run once per episode on the curated corpus's
# input tables: two of the dedup/search family and two read-only
# controls (a cold pass of the issue's full list of twelve takes about
# 70 s here, more than a whole run may). Each is built, run into a noop
# sink, and compared with its oracle_sql() DuckDB twin afterwards.
ENTRY_QUERIES = ("dup_components", "bm25_search", "doc_length_stats", "exact_dedup")


class CurateCorpus(Workload):
    """pipelines.curation.curate_corpus on a seeded corpus with a held-out
    benchmark slice, decontaminate_n=8, keep='best', output_path set;
    then each of ``ENTRY_QUERIES`` once through
    ``__spark_entry__.queries()`` over the same tables. A part of
    ``LlmCorpus``."""

    name = "curate_corpus"
    salt = 1
    n_docs = 800
    n_vecs = 600
    scale = {"documents": n_docs, "embeddings": n_vecs, "benchmark_items": 80,
             "near_dup_share": 0.12, "entry_queries": list(ENTRY_QUERIES)}

    def generate(self) -> None:
        self.docs, self.groups = gen.make_documents(self.rng, self.n_docs)
        bench, self.contaminated = gen.make_benchmark(self.rng, self.docs, 40, 40)
        vecs, _ = gen.make_embeddings(self.rng, self.n_vecs)
        gen.write_table(self.path("documents.parquet"), self.docs, "documents")
        gen.write_table(self.path("embeddings.parquet"), vecs, "embeddings")
        gen.write_table(self.path("benchmark.parquet"), bench, "benchmark")
        self.out = self.path("out", "survivors")

    def load(self, spark) -> None:
        from facolos_data_pipelines_spark.session import load_tables

        self.docs_df = load_tables(spark, self.dir, ["documents"])["documents"]
        self.bench_df = spark.read.parquet(self.path("benchmark.parquet"))

    def begin(self, spark, ep: Episode) -> None:
        ep.results = {}

    def plan(self, spark, ep: Episode):
        import __spark_entry__

        builders = __spark_entry__.queries()
        return [("curate", lambda: self.curate(spark, ep))] + [
            ("query", lambda q=q: self.query(spark, ep, q, builders[q])) for q in ENTRY_QUERIES
        ]

    def curate(self, spark, ep: Episode) -> int:
        from facolos_data_pipelines_spark.pipelines.curation import curate_corpus

        ep.last = curate_corpus(
            spark, self.docs_df, benchmark=self.bench_df, decontaminate_n=8,
            keep="best", output_path=self.out,
        )
        return self.n_docs

    def query(self, spark, ep: Episode, name: str, builder) -> int:
        with self.span(f"entry.{name}.build"):
            df = builder(spark, self.dir)
        with self.span(f"entry.{name}.exec"):
            df.write.format("noop").mode("overwrite").save()
        ep.results[name] = df
        return self.n_vecs if name == "dup_components" else self.n_docs

    def check(self, spark, ep: Episode) -> None:
        stages = [tuple(r) for r in ep.last.metrics.collect()]
        prev = self.n_docs
        for stage, rows_in, rows_out in stages:
            self.expect(rows_in == prev and rows_out <= rows_in,
                        f"stage {stage}: {rows_in}->{rows_out} after {prev}")
            prev = rows_out
        by = {s: (i, o) for s, i, o in stages}
        ids = [r[0] for r in spark.read.parquet(self.out).select("doc_id").collect()]
        input_ids = {d["doc_id"] for d in self.docs}
        self.expect(len(ids) == len(set(ids)) and set(ids) <= input_ids,
                    "survivors are not a distinct subset of the input")
        self.expect(len(ids) == prev, f"wrote {len(ids)} survivors, stages say {prev}")
        self.expect(not (set(ids) & self.contaminated), "a contaminated doc survived")
        # exercise guards: every stage must do work
        q_in, q_out = by.get("quality_filter", (0, 0))
        d_in, d_out = by.get("decontaminate", (0, 0))
        n_in, n_out = by.get("near_dedup", (0, 0))
        planted = sum(len(g) - 1 for g in self.groups)
        self.expect(q_out < q_in, "guard: quality filter dropped nothing")
        self.expect(d_out < d_in and d_out >= 0.9 * d_in,
                    f"guard: decontamination kept {d_out} of {d_in}")
        self.expect(0 < n_in - n_out <= planted,
                    f"guard: near-dedup dropped {n_in - n_out} (planted {planted})")
        ep.stage_counts = stages
        self.check_queries(ep)

    def check_queries(self, ep: Episode) -> None:
        """Each entry query's rows must equal its DuckDB twin's over the
        same parquet inputs; each must return rows."""
        import duckdb

        import __spark_entry__

        oracle = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        try:
            for table in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                            f"read_parquet('{self.path(table + '.parquet')}')")
            for name in ENTRY_QUERIES:
                if name not in ep.results:
                    continue
                got = _rows(ep.results[name].collect())
                want = _rows(con.execute(oracle[name]).fetchall())
                self.expect(bool(got) and got == want,
                            f"entry {name}: {len(got)} rows differ from the DuckDB twin's {len(want)}")
        finally:
            con.close()


def _rows(rows) -> list[tuple]:
    """Order-free, type-normalised rows for comparing two engines."""
    def norm(v):
        if isinstance(v, float):
            return round(v, 6)
        if isinstance(v, bool) or v is None or isinstance(v, str):
            return v
        if isinstance(v, (int, np.integer)):
            return int(v)
        return str(v)

    return sorted((tuple(norm(v) for v in r) for r in rows), key=repr)


# ---------------------------------------------------------------------------
# stream_sinks
# ---------------------------------------------------------------------------


class StreamSinks(Workload):
    """Seeded batch splits of documents, embeddings and events fed in
    order to near_dup_filter_sink, embedding_near_dup_sink and
    hist_state_sink, the way run_available_now's foreachBatch calls
    them. Round 0 creates the stores; one compact_bucket_store per
    bucket store follows it; the last document batch is then
    redelivered under its batch id. All of it is timed. A part of
    ``LlmCorpus``."""

    name = "stream_sinks"
    salt = 2
    rounds = 2
    docs_per_batch = 100
    vecs_per_batch = 40
    events_per_batch = 1000
    scale = {"docs_per_batch": docs_per_batch, "vectors_per_batch": vecs_per_batch,
             "events_per_batch": events_per_batch, "near_dup_share": 0.12,
             "rounds": rounds, "redelivered_rounds": 1}

    def generate(self) -> None:
        b = self.rounds
        self.docs, self.doc_groups = gen.make_documents(self.rng, b * self.docs_per_batch)
        self.vecs, self.vec_groups = gen.make_embeddings(self.rng, b * self.vecs_per_batch)
        events = gen.make_events(self.rng, b * self.events_per_batch)
        self.doc_batch = {d["doc_id"]: d["doc_id"] % b for d in self.docs}
        self.vec_batch = {v["vec_id"]: v["vec_id"] % b for v in self.vecs}
        ev_batch = [int(x) for x in self.rng.integers(0, b, size=len(events))]
        int32 = gen.pa.int32()
        gen.write_table(self.path("documents.parquet"), self.docs, "documents",
                        {"_batch": (int32, [self.doc_batch[d["doc_id"]] for d in self.docs])})
        gen.write_table(self.path("embeddings.parquet"), self.vecs, "embeddings",
                        {"_batch": (int32, [self.vec_batch[v["vec_id"]] for v in self.vecs])})
        gen.write_table(self.path("events.parquet"), events, "events", {"_batch": (int32, ev_batch)})
        # the embedding sink's docstring rule: p >= log2(N * bands / eps)
        self.num_bands = 4
        self.num_planes = max(12, math.ceil(math.log2(len(self.vecs) * self.num_bands / 0.05)))
        self.paths = {k: self.path("out", k) for k in
                      ("doc_sink", "doc_store", "vec_sink", "vec_store", "hist_store")}

    def load(self, spark) -> None:
        from facolos_data_pipelines_spark.quality.checks import hist_edges
        from facolos_data_pipelines_spark.session import load_tables

        self.tables = load_tables(spark, self.dir, ["documents", "embeddings", "events"])
        edges = self.path("edges")
        if not os.path.exists(edges):
            hist_edges(self.tables["events"].drop("_batch"), "value").write.parquet(edges)

    def batch(self, name: str, b: int):
        from pyspark.sql import functions as F

        return self.tables[name].filter(F.col("_batch") == b).drop("_batch")

    def begin(self, spark, ep: Episode) -> None:
        from facolos_data_pipelines_spark.streaming import (
            embedding_near_dup_sink, hist_state_sink, near_dup_filter_sink,
        )

        p = self.paths
        ep.sinks = {
            "docs": near_dup_filter_sink(p["doc_sink"], p["doc_store"], store_partitions=16),
            "vecs": embedding_near_dup_sink(
                p["vec_sink"], p["vec_store"], num_planes=self.num_planes,
                num_bands=self.num_bands, store_partitions=16,
            ),
            "hist": hist_state_sink(p["hist_store"], self.path("edges"), "ts", "value"),
        }

    def plan(self, spark, ep: Episode):
        items = [("step", lambda b=b: self.round(ep, b)) for b in range(self.rounds)]
        items.insert(1, ("compact", lambda: self.compact(spark)))
        items.append(("replay", lambda: self.replay(spark, ep)))
        return items

    def round(self, ep: Episode, b: int) -> int:
        for key, table in (("docs", "documents"), ("vecs", "embeddings"), ("hist", "events")):
            ep.sinks[key](self.batch(table, b), b)
        return self.docs_per_batch + self.vecs_per_batch + self.events_per_batch

    def compact(self, spark) -> int:
        from facolos_data_pipelines_spark.streaming import compact_bucket_store

        compact_bucket_store(spark, self.paths["doc_store"])
        compact_bucket_store(spark, self.paths["vec_store"], id_col="vec_id",
                             key_cols=("band", "sig"))
        return 0

    def replay(self, spark, ep: Episode) -> int:
        """Redeliver the last document batch under its batch id. Any row
        it added would repeat an id already in the sink."""
        b = self.rounds - 1
        ep.sinks["docs"](self.batch("documents", b), b)
        return self.docs_per_batch

    def check(self, spark, ep: Episode) -> None:
        from facolos_data_pipelines_spark.quality.checks import (
            psi_from_hist_state, rolling_psi_drift,
        )

        n = self.rounds
        p = self.paths
        for key, where, groups, sink, id_col in (
            ("docs", self.doc_batch, self.doc_groups, "doc_sink", "doc_id"),
            ("vecs", self.vec_batch, self.vec_groups, "vec_sink", "vec_id"),
        ):
            ids = [r[0] for r in spark.read.parquet(p[sink]).select(id_col).collect()]
            kept = set(ids)
            self.expect(len(ids) == len(kept), f"{key}: {len(ids) - len(kept)} repeated ids")
            fed = {i for i, b in where.items() if b < n}
            self.expect(kept <= fed, f"{key}: sink holds rows that were never fed")
            ep.kept[key] = (len(kept), len(fed))
            # a dropped row with no group mate in its own batch can only
            # have been dropped by the cross-batch store probe
            cross = sum(
                1 for g in groups for m in g
                if m in fed and m not in kept
                and not any(o != m and where[o] == where[m] for o in g)
            )
            self.expect(cross > 0, f"guard: {key} store probe dropped no cross-batch dup")
        # the state-read PSI must equal rolling_psi_drift over all events fed
        events = self.tables["events"].drop("_batch")
        want = sorted(tuple(r) for r in rolling_psi_drift(events, "ts", "value").collect())
        got = sorted(
            tuple(r) for r in psi_from_hist_state(spark.read.parquet(p["hist_store"])).collect()
        )
        self.expect(bool(want) and got == want, "hist: state-read PSI != rolling_psi_drift")

    def layer_extras(self, ep: Episode, spans: list[dict]) -> dict[str, float]:
        ratio = {k: kept / fed if fed else 0.0 for k, (kept, fed) in ep.kept.items()}
        return {
            "streaming.near_dup_filter_sink.batch.keep_ratio": ratio.get("docs", 0.0),
            "streaming.embedding_near_dup_sink.batch.keep_ratio": ratio.get("vecs", 0.0),
            "streaming.replay.wall_s": sum(ep.walls("replay")),
        }


# ---------------------------------------------------------------------------
# llm_corpus
# ---------------------------------------------------------------------------


class LlmCorpus(Workload):
    """The LLM-data path in one session: curate a corpus and query it
    (``CurateCorpus``), then stream the next crawl's micro-batches
    through the foreachBatch sinks (``StreamSinks``). Its steps are the
    micro-batch rounds. The two parts share a run so that the JVM start
    and the output checks are paid once for both."""

    name = "llm_corpus"

    def __init__(self, work_dir: str, seed: int):
        super().__init__(work_dir, seed)
        self.parts = [CurateCorpus(self.path("curate"), seed), StreamSinks(self.path("stream"), seed)]
        self.scale = {p.name: p.scale for p in self.parts}

    def generate(self) -> None:
        for p in self.parts:
            os.makedirs(p.dir)
            p.generate()

    def load(self, spark) -> None:
        for p in self.parts:
            p.load(spark)

    def begin(self, spark, ep: Episode) -> None:
        for p in self.parts:
            p.tracer = self.tracer
            p.begin(spark, ep)

    def plan(self, spark, ep: Episode):
        return [item for p in self.parts for item in p.plan(spark, ep)]

    def check(self, spark, ep: Episode) -> None:
        for p in self.parts:
            p.check(spark, ep)
            self.checks += p.checks
            self.failures += [f"{p.name}: {f}" for f in p.failures]

    def layer_extras(self, ep: Episode, spans: list[dict]) -> dict[str, float]:
        return {k: v for p in self.parts for k, v in p.layer_extras(ep, spans).items()}


WORKLOADS = {w.name: w for w in (EltCycle, LlmCorpus)}

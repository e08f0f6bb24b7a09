"""Duplicate-cluster graph operators: connected components (size-
dispatched driver union-find / distributed pointer doubling) and the
survivor policies built on them. Split from dedup.py; operators.dedup
re-exports the surface."""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..eager import materialize, materialize_counted, plan_only_active

log = logging.getLogger(__name__)


def _components_driver(pairs: DataFrame) -> DataFrame:
    """Driver-side union-find over a SMALL edge list (the caller has
    already checkpointed ``pairs``, so this Arrow collect re-reads the
    materialization, never the pair search): path-compressed min-root
    merge, labels returned through a single Arrow-backed
    ``createDataFrame(pandas)`` (no per-row Python tuples). Exactly the
    (node, component=min reachable id) contract of the distributed
    loop."""
    from pyspark.sql import types as T

    id_type = pairs.schema["id_a"].dataType
    pdf = pairs.toPandas()
    rows = zip(pdf["id_a"].tolist(), pdf["id_b"].tolist())
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN root so the final label is the min id
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    import pandas as pd

    labels_pdf = pd.DataFrame(
        {"node": list(parent), "component": [find(n) for n in parent]}
    )
    schema = T.StructType(
        [T.StructField("node", id_type), T.StructField("component", id_type)]
    )
    return pairs.sparkSession.createDataFrame(labels_pdf, schema)


def connected_components(
    pairs: DataFrame,
    max_iter: int = 20,
    on_nonconverged: str = "warn",
    driver_threshold: int | None = 5_000_000,
) -> DataFrame:
    """Single-link components over an edge list (id_a, id_b) → rows
    (node, component) where component = min id reachable from node.

    Size-dispatched: the incoming pair plan is eagerly checkpointed
    ONCE (the pair search — LSH buckets, posting lists, GEMM — is the
    expensive part and must never run twice), then counted — free on
    the materialization. Within ``driver_threshold`` pairs (~80 MB of
    ids at the default 5M, trivial for any driver) an Arrow collect +
    driver union-find resolves the labels in seconds and parallelizes
    them back; near-dup edge sets are tiny relative to the corpus,
    and the distributed loop's ~8 Spark jobs per round dwarf that
    cost (measured 2x even at 3.7M pairs). Beyond the threshold — or
    with ``driver_threshold=None/0`` — the distributed
    O(log diameter) loop below consumes the same checkpoint. Both
    paths produce identical labels, which is why the oracle-certified
    queries stay green under either dispatch.

    Each round does (1) min-label propagation — every node takes the
    minimum label across its edges — then (2) a pointer-doubling
    shortcut: node's label := its label's label. Doubling halves the
    remaining pointer-chain depth every round, so convergence is
    O(log diameter) rounds, not O(diameter): max_iter=20 covers
    diameters beyond 2^20 — pathological boilerplate chains included
    (plain propagation needed a round per hop and aborted at 20). Every
    round is id-only joins/group-bys (never text), and the label frame
    is checkpointed per round to truncate lineage.

    Invariant used by the shortcut step: labels start as node ids and
    only ever decrease to the min over a (growing) reachable set, so a
    node's current label is always itself a node in the same component
    and the self-join finds its row.

    If the bound is still somehow exceeded, ``on_nonconverged``
    decides: ``'warn'`` (default) returns the partially-converged
    labels with a RuntimeWarning (safe direction — labels are valid
    upper-approximations: every labeled group is a subset of a true
    component, so dedup keeps extra docs, never drops a non-dup);
    ``'raise'`` fails loudly with RuntimeError — for production jobs
    that need exact single-link semantics and would otherwise silently
    ship a different survivor set because nobody reads warnings.
    """
    if on_nonconverged not in ("warn", "raise"):
        raise ValueError(
            f"on_nonconverged={on_nonconverged!r}; expected 'warn' or 'raise'"
        )
    pairs = pairs.select("id_a", "id_b")
    # The "~80 MB at 5M pairs" driver-dispatch sizing only holds for
    # fixed-width integral ids. With string ids (supported everywhere in
    # the dedup family) each pandas cell is a Python object (~60+ bytes
    # before the id text itself), so the same row count can cost GBs of
    # driver heap. Scale the effective threshold down for non-integral
    # id types rather than silently OOMing a default driver.
    from pyspark.sql import types as T

    id_type = pairs.schema["id_a"].dataType
    effective_threshold = driver_threshold or 0
    if effective_threshold and not isinstance(
        id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        effective_threshold = min(effective_threshold, 1_000_000)
    # plan-only mode compiles the DISTRIBUTED path (the size dispatch is
    # itself an action) and a single representative round — see
    # eager.plan_only_mode
    if plan_only_active() or not effective_threshold:
        pairs = materialize(pairs)
    else:
        pairs, n_pairs = materialize_counted(pairs)
        if n_pairs <= effective_threshold:
            # observable dispatch: post-hoc debugging of driver memory
            # pressure needs to know this path fired, with how many
            # pairs and which id dtype sized the threshold
            log.info(
                "connected_components: driver union-find dispatch "
                "(%d pairs <= effective threshold %d, id type %s)",
                n_pairs,
                effective_threshold,
                id_type.simpleString(),
            )
            return _components_driver(pairs)
    edges = materialize(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .dropDuplicates()
    )
    labels = materialize(
        edges.select(F.col("src").alias("node"))
        .dropDuplicates()
        .withColumn("component", F.col("node"))
    )
    for _ in range(1 if plan_only_active() else max_iter):
        neighbor_min = (
            edges.join(labels, edges["src"] == labels["node"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("component").alias("_nbr"))
        )
        hopped = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.least(F.col("component"), F.coalesce("_nbr", "component")).alias(
                "component"
            ),
        )
        # Pointer doubling: follow component -> component's component.
        parent = hopped.select(
            F.col("node").alias("_c"), F.col("component").alias("_cc")
        )
        new_labels = materialize(
            hopped.join(parent, hopped["component"] == parent["_c"], "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("_cc", "component")
                ).alias("component"),
            )
        )
        if plan_only_active():
            return new_labels  # one representative round, no action
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        # superseded checkpoints are released by Spark's ContextCleaner
        # once the old `labels` reference drops here
        labels = new_labels
        if changed == 0:
            return labels
    msg = (
        f"connected_components did not fully converge within max_iter={max_iter} "
        "rounds; labels are partially converged (each labeled group is a "
        "subset of a true component — dedup keeps extra docs, never drops a "
        "non-duplicate). Raise max_iter to finish the merge."
    )
    if on_nonconverged == "raise":
        raise RuntimeError(msg)
    import warnings

    warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels


def _drop_pair_losers(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    transitive: bool,
    score_col: str | None = None,
    descending: bool = True,
) -> DataFrame:
    """Shared pair-resolution: one-sweep (drop every id_b) or exact
    single-link components keeping the min id per component.

    ``score_col`` switches the survivor rule from min-id to
    best-score (:func:`keep_best_per_cluster`): components are always
    resolved (the policy needs whole clusters, so ``transitive`` is
    implied) and the best-scoring member of each survives."""
    if score_col is not None:
        comps = connected_components(pairs)
        return keep_best_per_cluster(df, comps, score_col, id_col, descending)
    if transitive:
        comps = connected_components(pairs)
        losers = materialize(
            comps.filter(F.col("node") != F.col("component"))
            .select(F.col("node").alias(id_col))
        )
    else:
        losers = pairs.select(F.col("id_b").alias(id_col)).dropDuplicates()
    return df.join(losers, id_col, "left_anti")


def keep_best_per_cluster(
    df: DataFrame,
    clusters: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    descending: bool = True,
) -> DataFrame:
    """Quality-priority survivor selection for duplicate clusters:
    keep the best-scoring member of every cluster instead of the
    lowest id. The min-id keep policy (`_drop_pair_losers`) is
    arbitrary; curation pipelines (FineWeb-style) keep the member
    with the best quality signal — longest, highest LM score, best
    heuristic composite — so near-dedup upgrades the corpus instead
    of sampling it blindly.

    ``clusters`` is the (node, component) frame
    :func:`connected_components` produces; docs absent from it are
    singleton survivors. Ties on ``score_col`` break on the lower id,
    so the selection is total and deterministic. ``descending=False``
    keeps the LOWEST score (e.g. perplexity, where smaller is better).

    Scale: one join on id (the cluster frame is near-dup nodes only —
    tiny next to the corpus, broadcast-eligible) + one window whose
    partition is a duplicate CLUSTER, never the corpus; singletons
    pass through the same window with partition size 1.
    """
    if "_comp" in df.columns or "_rn" in df.columns or "_kb_comp" in df.columns:
        raise ValueError(
            "keep_best_per_cluster: input has internal column names "
            "('_comp'/'_rn'/'_kb_comp'); rename them first"
        )
    # The cluster frame's label lands under an internal alias so an
    # existing 'component' column on df (common after a prior
    # components pass) never produces an ambiguous reference.
    lab = clusters.select(
        F.col("node").alias(id_col), F.col("component").alias("_kb_comp")
    )
    order = [
        F.col(score_col).desc() if descending else F.col(score_col).asc(),
        F.col(id_col).asc(),
    ]
    w = Window.partitionBy("_comp").orderBy(*order)
    return (
        df.join(lab, id_col, "left")
        .withColumn("_comp", F.coalesce(F.col("_kb_comp"), F.col(id_col)))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_comp", "_rn", "_kb_comp")
    )



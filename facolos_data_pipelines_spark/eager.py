"""Eager materialisation: the one place the package checkpoints a frame.

Three entry points, each an eager ``localCheckpoint``:

- :func:`materialize` caches a subtree the returned plan references
  more than once (pair searches, LSH band rows, per-round component
  labels, bigram tables). Inside :func:`plan_only_mode` it is skipped,
  so ``.explain()`` and ``scripts/dump_plans.py`` see the full Catalyst
  plan instead of a LogicalRDD scan above the boundary.
- :func:`materialize_counted` is for checkpoints that something done
  during the build depends on: a write (an overwrite of the path just
  read, a sink append), a row count, or a collected result. The row
  count rides the checkpoint's own job as an observed metric, so it
  costs no separate ``count()``. It always executes, plan-only mode or
  not.
- :func:`materialize_observed` is the general form: it reads back any
  named observed metrics in the frame's plan (a sink's count of the
  rows it dropped before signing).

Plan-only mode is INSPECTION ONLY: inside it nothing the returned plan
references executes at build time, and iterative operators compile a
single representative round (their convergence check is an action).
Collecting a frame built there recomputes shared subtrees and, for
iterative operators, returns un-converged labels.
"""

from __future__ import annotations

import contextvars
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# a ContextVar, not a module global: a thread (or async task) holding
# the flag for a plan dump cannot leak it into sibling threads building
# real operator plans concurrently
_PLAN_ONLY = contextvars.ContextVar("plan_only", default=False)


def plan_only_active() -> bool:
    """True inside a :func:`plan_only_mode` context (current thread/task)."""
    return _PLAN_ONLY.get()


class plan_only_mode:
    """Context manager: skip :func:`materialize` inside operators so the
    full logical plan stays visible for explain/plan dumps."""

    def __enter__(self):
        self._token = _PLAN_ONLY.set(True)
        return self

    def __exit__(self, *exc):
        _PLAN_ONLY.reset(self._token)
        return False


def materialize(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)`` — unless plan-only mode is
    active, in which case ``df`` flows through untouched (plan stays
    visible, nothing executes)."""
    if _PLAN_ONLY.get():
        return df
    return df.localCheckpoint(eager=True)


def materialize_observed(df: DataFrame, *names: str) -> tuple[DataFrame, list[int]]:
    """``(df.localCheckpoint(eager=True), values)``: ``values`` holds the
    named observed metrics ``names`` (``df.observe(name, <one long
    aggregate>)`` nodes anywhere in ``df``'s plan), read back from the
    checkpoint's own query execution. Always executes.

    The metrics are NAMED observations, not ``pyspark.sql.Observation``
    objects: on Spark 4.1 an ``Observation`` starts the session's
    ObservationManager, which cannot be serialized, and every later
    task that captures the session (``pyspark.ml`` models keep it in
    their training summary) then fails with "Task not serializable"."""
    out = df.localCheckpoint(eager=True)
    metrics = df._jdf.queryExecution().observedMetrics()
    return out, [metrics.get(name).get().getLong(0) for name in names]


def materialize_counted(df: DataFrame) -> tuple[DataFrame, int]:
    """``(df.localCheckpoint(eager=True), rows)``: the row count is
    observed on the checkpoint's own scan (:func:`materialize_observed`).
    Always executes."""
    name = f"rows_{uuid.uuid4().hex}"
    out, (rows,) = materialize_observed(
        df.observe(name, F.count(F.lit(1)).alias("rows")), name
    )
    return out, rows

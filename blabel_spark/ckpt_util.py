"""Checkpoint blocks and their lifetime.

``localCheckpoint`` pins a table's blocks until its RDD is unpersisted
(the ContextCleaner only frees them after a driver full-GC).  Every
checkpoint goes through ``checkpoint``, which registers the blocks with
the innermost open ``scope()``.  Nothing checkpointed inside a scope
outlives it unless it was kept: exit, also by exception, releases the
rest.  ``Scope.release`` retires a table once every consumer has
materialized (lineage is truncated: a late consumer could not recompute
it); ``Scope.keep`` hands tables to the enclosing scope, or with none
open to the caller, and returns their handles.  With no scope open
``checkpoint`` only checkpoints.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def ckpt_rdd(df: DataFrame):
    """JVM handle of the RDD backing a local-checkpointed DataFrame (its
    analyzed plan is a ``LogicalRDD``); None for any other plan."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        # a checkpointed df wrapped in narrow projections (e.g. a .drop)
        # still rides the same blocks — descend to the scan, but only
        # through nodes that cannot hide a DIFFERENT checkpoint
        while (plan.getClass().getSimpleName() in ("Project", "Filter")
               and plan.children().size() == 1):
            plan = plan.children().apply(0)
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return None
        return plan.rdd()
    except Exception:  # pragma: no cover — py4j surface drift
        return None


def release(handles, blocking: bool = False) -> None:
    """Unpersist checkpoint RDD handles (None entries are skipped)."""
    for h in handles:
        if h is None:
            continue
        try:
            h.unpersist(blocking)
        except Exception:  # pragma: no cover — context already stopped
            pass


class Scope:
    """The checkpoint handles one open scope holds, by RDD id."""

    def __init__(self, parent: Scope | None):
        self.parent = parent
        self.held: dict[int, object] = {}

    def _take(self, dfs) -> list:
        handles = [h for h in map(ckpt_rdd, dfs) if h is not None]
        return [h for h in (self.held.pop(h.id(), None) for h in handles)
                if h is not None]

    def release(self, *dfs: DataFrame) -> None:
        """Unpersist now the blocks of ``dfs`` that this scope holds."""
        release(self._take(dfs))

    def keep(self, *dfs: DataFrame) -> list:
        """Hand the blocks of ``dfs`` to the enclosing scope, if any, and
        return their handles."""
        handles = self._take(dfs)
        if self.parent is not None:
            self.parent.held.update((h.id(), h) for h in handles)
        return handles


_SCOPE: ContextVar[Scope | None] = ContextVar("ckpt_scope", default=None)


@contextmanager
def scope():
    """Open a scope nested in the current one; yields the ``Scope``."""
    s = Scope(_SCOPE.get())
    token = _SCOPE.set(s)
    try:
        yield s
    finally:
        _SCOPE.reset(token)
        release(s.held.values())


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)``, its blocks registered with the
    innermost open scope."""
    out = df.localCheckpoint(eager)
    s = _SCOPE.get()
    h = ckpt_rdd(out) if s is not None else None
    if h is not None:
        s.held[h.id()] = h
    return out


def counted(df: DataFrame, *where: Column | str | None) -> tuple:
    """``(checkpoint(df), n, ...)``: the eager checkpoint, its blocks
    registered with the innermost open scope, and one
    ``n = count(when(cond, 1))`` over its rows per condition in ``where``
    (every row for no condition or None; a string is a SQL expression).

    The counts are observed by the checkpoint's own job; no other action
    runs.  The observation is the last operator before that action, so
    the metrics come from the result stage and a retried shuffle stage
    cannot count twice.  Each call uses a fresh unnamed ``Observation``,
    because only an observation's first action is recorded.
    """
    ns = [F.count(F.lit(1) if w is None else
                  F.when(F.expr(w) if isinstance(w, str) else w, 1))
          .alias(f"n{i}") for i, w in enumerate(where or (None,))]
    obs = Observation()
    out = checkpoint(df.observe(obs, *ns))
    got = obs.get
    return (out, *(got[f"n{i}"] for i in range(len(ns))))

"""Per-phase records of a Spark pipeline.

``phase`` runs a block under a job tag of its own and records the
block's wall seconds and the jobs and stages it fired, counted by tag
from the status tracker.  Tags nest, so an inner phase's jobs also count
for every enclosing one, and the caller's job group, description and
tags are left as they were.

The block also runs with ``spark.checkpoint.checkpointAllMarkedAncestors``
set as a thread-local property.  Without it ``RDD.doCheckpoint`` stops at
the first checkpoint-marked RDD: of two stacked lazy checkpoints that one
action materializes, the inner one never truncates its lineage, and a
loop's plans grow every round.  An RDD reads the property when it is
created, so this covers every table the block builds, on any session.
"""

from __future__ import annotations

import time
import uuid
from contextlib import contextmanager

from pyspark import SparkContext

ALL_MARKED = "spark.checkpoint.checkpointAllMarkedAncestors"


@contextmanager
def phase(name: str, metrics: dict | None = None):
    """Run the block as phase ``name`` and yield its record, a dict the
    block may add to.  On exit the record gains ``t_<name>_s``, ``n_jobs``
    and ``n_stages``; with ``metrics`` given it is stored as
    ``metrics["phases"][name]`` and its wall also as
    ``metrics["t_<name>_s"]``."""
    sc = SparkContext._active_spark_context
    # the status tracker matches tags over the whole application
    tag = f"blabel-{name}-{uuid.uuid4().hex}"
    prev = sc.getLocalProperty(ALL_MARKED)
    sc.addJobTag(tag)
    sc.setLocalProperty(ALL_MARKED, "true")
    rec: dict = {}
    t0 = time.perf_counter()
    try:
        yield rec
    finally:
        wall = round(time.perf_counter() - t0, 3)
        sc.removeJobTag(tag)
        sc.setLocalProperty(ALL_MARKED, prev)
        jsc = sc._jsc.sc()
        # job-start events reach the status store through the listener bus
        jsc.listenerBus().waitUntilEmpty(30_000)
        st = jsc.statusTracker()
        infos = [st.getJobInfo(j) for j in st.getJobIdsForTag(tag)]
        rec.update({f"t_{name}_s": wall, "n_jobs": len(infos),
                    "n_stages": sum(len(i.get().stageIds()) for i in infos
                                    if i.isDefined())})
        if metrics is not None:
            metrics[f"t_{name}_s"] = wall
            metrics.setdefault("phases", {})[name] = rec

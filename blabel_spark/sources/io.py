"""Table IO, fixpoint checkpointing, and per-partition lineage/metrics.

Iceberg is the target table format at cluster scale (snapshot isolation,
partition evolution); this container has no Iceberg runtime jars, so the
writer auto-detects: if the session has an Iceberg catalog configured we
write ``format("iceberg")``, otherwise we fall back to partitioned parquet
with an explicit snapshot manifest (_snapshots.json) that provides the same
resume semantics (atomic pointer to the last committed state).

Checkpoint model for the colour-refinement fixpoint (north_rule:
"resumable from checkpoint"): the loop state is ONE table
(graph_id, comp, bnode, color) plus scalar bookkeeping (iteration number,
per-comp previous class counts).  Colours are pure functions of the
previous round, so replaying from the last committed iteration is
idempotent.  Each commit writes:

    <dir>/iter=<k>/labels/          the colour state
    <dir>/iter=<k>/conv/            per-comp previous class counts
    <dir>/iter=<k>/resolved/        colours frozen so far (may be empty)
    <dir>/iter=<k>/kernel/          triples routed to the kernel so far
    <dir>/_ckpt.json                atomic pointer {iteration: k}

Per-partition lineage/metrics rows (north_rule) are emitted next to every
materialized output: one row per graph partition with input/output counts,
iteration count and wall time, keyed by a run id.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def iceberg_available(spark: SparkSession) -> bool:
    try:
        jvm = spark._jvm
        jvm.Class.forName("org.apache.iceberg.spark.source.IcebergSource")
        return True
    except Exception:
        return False


def write_table(df: DataFrame, path: str, partition_by: list[str] | None = None,
                mode: str = "overwrite") -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if iceberg_available(df.sparkSession) and not path.startswith(("/", "file:")):
        w.format("iceberg").saveAsTable(path)
    else:
        w.parquet(path)


def write_counted(df: DataFrame, write: Callable[[DataFrame], None]) -> int:
    """Run ``write``, one write action, on ``df`` and return the number
    of rows it wrote, observed by the write's own job: nothing is read
    back.  The observation is the last operator before the write, and
    each call uses a fresh unnamed ``Observation`` (only an observation's
    first action is recorded)."""
    obs = Observation()
    write(df.observe(obs, F.count(F.lit(1)).alias("n")))
    return obs.get["n"]


class FixpointCheckpoint:
    """Commit/restore the fixpoint loop state (see module docstring)."""

    def __init__(self, spark: SparkSession, directory: str):
        self.spark = spark
        self.dir = directory
        os.makedirs(directory, exist_ok=True)

    # -- commit -------------------------------------------------------------

    def commit(self, iteration: int, labels: DataFrame, conv_prev: DataFrame,
               resolved: DataFrame | None, kernel: DataFrame | None) -> None:
        base = f"{self.dir}/iter={iteration}"
        labels.write.mode("overwrite").parquet(f"{base}/labels")
        conv_prev.write.mode("overwrite").parquet(f"{base}/conv")
        if resolved is not None:
            resolved.write.mode("overwrite").parquet(f"{base}/resolved")
        if kernel is not None:
            kernel.write.mode("overwrite").parquet(f"{base}/kernel")
        # atomic pointer: write temp then rename
        tmp = f"{self.dir}/_ckpt.json.tmp"
        with open(tmp, "w") as f:
            json.dump({"iteration": iteration,
                       "has_resolved": resolved is not None,
                       "has_kernel": kernel is not None,
                       "committed_at": time.time()}, f)
        os.replace(tmp, f"{self.dir}/_ckpt.json")

    # -- restore ------------------------------------------------------------

    def latest(self) -> dict | None:
        p = f"{self.dir}/_ckpt.json"
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def restore(self) -> tuple[int, DataFrame, DataFrame,
                               DataFrame | None, DataFrame | None] | None:
        meta = self.latest()
        if meta is None:
            return None
        k = meta["iteration"]
        base = f"{self.dir}/iter={k}"
        labels = self.spark.read.parquet(f"{base}/labels")
        conv = self.spark.read.parquet(f"{base}/conv")
        resolved = (self.spark.read.parquet(f"{base}/resolved")
                    if meta.get("has_resolved") else None)
        kernel = (self.spark.read.parquet(f"{base}/kernel")
                  if meta.get("has_kernel") else None)
        return k, labels, conv, resolved, kernel


def lineage_metrics(labelled: DataFrame, triples_in: DataFrame,
                    run_id: str | None = None,
                    extra: dict | None = None) -> DataFrame:
    """Per-graph-partition lineage/metrics rows: counts in/out plus run
    metadata.  Written next to each output commit (north_rule)."""
    run_id = run_id or uuid.uuid4().hex[:12]
    # one exchange: input rows tagged 1 and output rows tagged 0, summed
    tagged = triples_in.select("graph_id", F.lit(1).alias("_in")).union(
        labelled.select("graph_id", F.lit(0).alias("_in")))
    m = tagged.groupBy("graph_id") \
              .agg(F.sum("_in").alias("n_in"),
                   F.sum(1 - F.col("_in")).alias("n_out")) \
              .withColumn("run_id", F.lit(run_id)) \
              .withColumn("committed_at", F.current_timestamp())
    for k, v in (extra or {}).items():
        m = m.withColumn(k, F.lit(v))
    return m


def append_snapshot(out_dir: str, entry: dict) -> None:
    """Append a commit record to ``<out_dir>/_snapshots.json`` with an
    atomic replace — the parquet-fallback analogue of an Iceberg snapshot
    pointer: a reader trusts only tables referenced by the manifest, so a
    crashed half-written commit is never observed."""
    path = os.path.join(out_dir, "_snapshots.json")
    snaps = []
    if os.path.exists(path):
        with open(path) as f:
            snaps = json.load(f)
    snaps.append(entry)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(snaps, f, indent=1)
    os.replace(tmp, path)


def latest_snapshot(out_dir: str) -> dict | None:
    path = os.path.join(out_dir, "_snapshots.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        snaps = json.load(f)
    return snaps[-1] if snaps else None


def materialize_kg(spark: SparkSession, labelled: DataFrame,
                   triples_in: DataFrame, out_dir: str,
                   metrics_extra: dict | None = None) -> str:
    """Write the canonical triple table partitioned by graph bucket plus
    its lineage/metrics table, then commit the snapshot manifest entry
    (written LAST — the commit point); returns the run id.  The entry's
    ``n_rows`` is observed by the triple write itself: the commit reads
    nothing back."""
    run_id = uuid.uuid4().hex[:12]
    out = labelled.withColumn(
        "graph_bucket", F.pmod(F.xxhash64("graph_id"), F.lit(64)))
    n_rows = write_counted(out, lambda d: write_table(
        d, f"{out_dir}/triples", partition_by=["graph_bucket"]))
    m = lineage_metrics(labelled, triples_in, run_id, metrics_extra)
    write_table(m, f"{out_dir}/metrics")
    append_snapshot(out_dir, {
        "run_id": run_id,
        "committed_at": time.time(),
        "tables": {"triples": f"{out_dir}/triples",
                   "metrics": f"{out_dir}/metrics"},
        "n_rows": n_rows,
    })
    return run_id

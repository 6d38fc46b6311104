"""Measurement from outside the program: layer spans, Spark event-log
aggregation, executor counters and process memory.

Layer spans are taken around calls into each layer's public functions.
In a traced pass every job a span fires carries the span's name in the
``perfbench.layer`` local property (``SparkContext.setLocalProperty``),
which the event log records in ``SparkListenerJobStart.Properties``; the
log is parsed after the session stops.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

LAYER_PROP = "perfbench.layer"
PASS_PROP = "perfbench.pass"

# task accumulables the Python exec nodes report (Spark 4.x names; times
# in ms, data in bytes)
PY_ACCUMS = {
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "python_sent_mb",
    "data returned from Python workers": "python_recv_mb",
}
MB = 1 << 20
CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """Layer spans of one pass.  Untraced, it only runs the pass's sink:
    the pipeline stays lazy, as a user writes it.  Traced, each layer's
    output is checkpointed at its boundary so the span's wall is the
    layer's real work, and jobs are tagged with the layer and pass."""

    def __init__(self, spark: SparkSession, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self.walls: dict[str, float] = defaultdict(float)
        self.handles: list = []

    @contextmanager
    def layer(self, name: str):
        if not self.traced:
            yield
            return
        self.sc.setLocalProperty(LAYER_PROP, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[name] += time.perf_counter() - t0
            self.sc.setLocalProperty(LAYER_PROP, None)

    def settle(self, df: DataFrame) -> DataFrame:
        """Layer boundary: materialize when traced, stay lazy otherwise."""
        if not self.traced:
            return df
        from blabel_spark.ckpt_util import ckpt_rdd
        df = df.localCheckpoint(True)
        self.handles.append(ckpt_rdd(df))
        return df

    def sink(self, df: DataFrame) -> DataFrame:
        """The pass's real sink: a noop write untraced, a checkpoint
        (which also materializes every row) traced."""
        if self.traced:
            return self.settle(df)
        df.write.format("noop").mode("overwrite").save()
        return df

    def release(self) -> None:
        from blabel_spark.ckpt_util import release
        release(self.handles)
        self.handles = []


def _job_tag(pass_id: int) -> str:
    return f"perfbench-pass-{pass_id}"


@contextmanager
def pass_tag(spark: SparkSession, pass_id: int):
    """Tag every job of one pass: a local property for the event log and
    a job tag for the live status tracker."""
    sc = spark.sparkContext
    sc.setLocalProperty(PASS_PROP, str(pass_id))
    sc.addJobTag(_job_tag(pass_id))
    try:
        yield
    finally:
        sc.removeJobTag(_job_tag(pass_id))
        sc.setLocalProperty(PASS_PROP, None)


def pass_jobs(spark: SparkSession, pass_id: int) -> int:
    """Spark jobs one pass ran, from the live status tracker."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    return len(jsc.statusTracker().getJobIdsForTag(_job_tag(pass_id)))


def executor_totals(spark: SparkSession) -> tuple[int, int]:
    """Cumulative shuffle bytes written and tasks run by the (local-mode)
    executor, from the live status store once the listener bus has
    drained."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    execs = jsc.statusStore().executorList(True)
    summaries = [execs.apply(i) for i in range(execs.size())]
    return (sum(e.totalShuffleWrite() for e in summaries),
            sum(e.totalTasks() for e in summaries))


def _hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, 0 once it is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except (OSError, ValueError):
        pass
    return 0.0


def alive(pid: int) -> bool:
    """Running, i.e. neither gone nor a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def descendants(root: int) -> list[int]:
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class PeakRss:
    """Driver JVM VmHWM + the largest Python-worker VmHWM seen."""

    def __init__(self, spark: SparkSession):
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        self.jvm_mb = 0.0
        self.worker_mb = 0.0

    def sample(self) -> None:
        self.jvm_mb = max(self.jvm_mb, _hwm_mb(self.jvm_pid))
        for pid in descendants(self.jvm_pid):
            self.worker_mb = max(self.worker_mb, _hwm_mb(pid))

    @property
    def total_mb(self) -> float:
        return self.jvm_mb + self.worker_mb


def _cpu_s(pid, reaped: bool) -> float:
    """User + system CPU seconds of a process, plus those of its reaped
    children if asked; 0 once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
        ticks = int(f[11]) + int(f[12])
        if reaped:
            ticks += int(f[13]) + int(f[14])
    except (OSError, IndexError, ValueError):
        return 0.0
    return ticks / CLK_TCK


def _jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads."""
    base = f"/proc/{jvm_pid}/task"
    try:
        tids = os.listdir(base)
    except OSError:
        return 0.0
    total = 0.0
    for tid in tids:
        try:
            with open(f"{base}/{tid}/comm") as fh:
                if "CompilerThre" not in fh.read():
                    continue
        except OSError:
            continue
        total += _cpu_s(f"{jvm_pid}/task/{tid}", False)
    return total


class CpuClock:
    """CPU seconds the whole program has used: this driver process, the
    driver JVM (task threads, JIT compiler, GC) and the JVM's Python
    workers, and the JIT compiler's part of it.  The kernel leaves out the
    time the host runs other guests on our vCPUs (steal), which a wall
    clock counts."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def __call__(self) -> tuple[float, float]:
        total = (_cpu_s(os.getpid(), False) + _cpu_s(self.jvm_pid, True)
                 + sum(_cpu_s(p, True) for p in descendants(self.jvm_pid)))
        return total, _jit_cpu_s(self.jvm_pid)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse_event_log(path: str) -> dict[tuple[str, str], dict[str, float]]:
    """Aggregate an uncompressed event log by (pass, layer).

    Jobs take their tags from ``SparkListenerJobStart.Properties``; a stage
    belongs to the first job that lists it, and tasks to their stage.
    Layer ``"*"`` holds the whole pass, ``""`` the untagged jobs of it."""
    stage_tag: dict[int, tuple[str, str]] = {}
    agg: dict[tuple[str, str], dict[str, float]] = defaultdict(
        lambda: defaultdict(float))

    def add(tag, key, v):
        agg[tag][key] += v
        agg[(tag[0], "*")][key] += v

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                pid = props.get(PASS_PROP)
                if pid is None:
                    continue
                tag = (pid, props.get(LAYER_PROP) or "")
                add(tag, "jobs", 1)
                for sid in ev.get("Stage IDs", []):
                    stage_tag.setdefault(sid, tag)
            elif kind == "SparkListenerStageCompleted":
                tag = stage_tag.get(ev["Stage Info"]["Stage ID"])
                if tag is not None:
                    add(tag, "stages", 1)
            elif kind == "SparkListenerTaskEnd":
                tag = stage_tag.get(ev.get("Stage ID"))
                if tag is None:
                    continue
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                add(tag, "tasks", 1)
                add(tag, "gc_s", _num(m.get("JVM GC Time")) / 1e3)
                add(tag, "executor_cpu_s",
                    _num(m.get("Executor CPU Time")) / 1e9)
                add(tag, "shuffle_write_mb",
                    _num(sw.get("Shuffle Bytes Written")) / MB)
                add(tag, "spill_mb",
                    (_num(m.get("Memory Bytes Spilled"))
                     + _num(m.get("Disk Bytes Spilled"))) / MB)
                for acc in (ev.get("Task Info") or {}).get("Accumulables",
                                                            []):
                    key = PY_ACCUMS.get(acc.get("Name"))
                    if key is None:
                        continue
                    v = _num(acc.get("Update"))
                    add(tag, key, v / MB if key.endswith("_mb") else v / 1e3)
    return agg


def median_by_layer(agg, pass_ids) -> dict[str, dict[str, float]]:
    """Per layer, the median over the given passes of each statistic."""
    if not pass_ids:
        return {}
    layers = {layer for (_, layer) in agg}
    out = {}
    for layer in layers:
        stats = {k for (p, ly), d in agg.items() if ly == layer for k in d}
        out[layer] = {
            k: statistics.median(agg.get((str(p), layer), {}).get(k, 0.0)
                                 for p in pass_ids)
            for k in stats}
    return out

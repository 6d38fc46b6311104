#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload kg_dedup --seed 1 --seconds 1 \\
        --trace 0 [--size smoke]

One driver process, ``local[<cores>]``, one client running passes back to
back (closed loop).  Protocol:

1. set-up: start the session (``get_spark``, including the Python-worker
   prewarm), then generate and stage the input (checkpoint + count)
   ``STAGE_REPEATS`` times; ``setup_s`` = session + median staging;
2. pass 1 is the cold pass (``cold_pass_s``), then the thorough output
   check runs once, untimed;
3. warm passes run for ``--seconds`` and at least ``MIN_WARM`` of them;
   while the first warm pass is more than ``LEVEL`` slower than the next,
   it is warm-up and is discarded (at most ``MAX_WARMUP`` times);
   the per-pass values are medians of the rest.

Every pass is timed (wall and CPU) and counted (Spark jobs, tasks,
shuffle bytes).  The end-to-end metrics of BENCHMARK.json are the set-up
time, the counts and the peak memory; pass times are per-layer metrics,
because the shared host moves them by more than any bound (NOTES.md).

With ``--trace 1`` each warm pass of step 3 is followed by a traced one,
Spark's event log is on for the whole process, and the per-layer metrics
of BENCHMARK.json are printed instead of the end-to-end ones.  Every pass is
checked; a pass that raises or fails its check counts as failed.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

from tracing import (CpuClock, PeakRss, Tracer, alive, descendants,
                     executor_totals, median_by_layer, parse_event_log,
                     pass_jobs, pass_tag)
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

STAGE_REPEATS = 2
MIN_WARM = 1
MAX_WARMUP = 3
LEVEL = 0.25
DRIVER_MEMORY = "1g"

# per-layer names whose layer span is named differently
SPAN_ALIASES = {f"ops.dedup.{k}_s": f"ops.dedup.{k}.wall_s"
                for k in ("minhash", "lsh", "jaccard", "clusters",
                          "keepers")}


def configure_env(trace: bool) -> None:
    """Keep every file the run writes inside the checkout, ship the
    package to the Python workers, and switch the event log on from
    outside the program when tracing."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    events = os.path.join(WORK, "events")
    for d in (tmp, events):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # compiler threads live as long as the JVM, so their CPU time can be
    # read per thread
    jvm_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                " -XX:-UseDynamicNumberOfCompilerThreads")
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    # a fixed-size heap keeps the driver's resident set from following
    # the collector's run-to-run heap-sizing decisions
    args = ["--driver-java-options", f"{jvm_opts} -Xms{DRIVER_MEMORY}"]
    if trace:
        for k, v in (("enabled", "true"), ("compress", "false"),
                     ("rolling.enabled", "false"),
                     ("dir", f"file://{events}")):
            args += ["--conf", f"spark.eventLog.{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


@dataclass
class Pass:
    id: int
    traced: bool
    wall: float = 0.0
    cpu: float = 0.0
    jit_cpu: float = 0.0
    ok: bool = False
    shuffle_mb: float = 0.0
    jobs: int = 0
    tasks: int = 0
    walls: dict[str, float] = field(default_factory=dict)
    extra: dict[str, float] = field(default_factory=dict)


class Runner:
    def __init__(self, spark, wl, data):
        self.spark, self.wl, self.data = spark, wl, data
        self.passes: list[Pass] = []
        self.rss = PeakRss(spark)
        self.cpu = CpuClock(self.rss.jvm_pid)

    def one(self, traced: bool = False, verify: bool = False) -> Pass:
        p = Pass(len(self.passes) + 1, traced)
        self.passes.append(p)
        tr = Tracer(self.spark, traced)
        out = None
        sw0, tk0 = executor_totals(self.spark)
        try:
            (c0, j0), t0 = self.cpu(), time.perf_counter()
            with pass_tag(self.spark, p.id):
                out = self.wl.run(self.spark, self.data, tr)
            p.wall = time.perf_counter() - t0
            c1, j1 = self.cpu()
            p.cpu, p.jit_cpu = c1 - c0, j1 - j0
            sw1, tk1 = executor_totals(self.spark)
            p.shuffle_mb, p.tasks = (sw1 - sw0) / (1 << 20), tk1 - tk0
            p.jobs = pass_jobs(self.spark, p.id)
            p.ok = self.wl.check(self.spark, self.data, out)
            if verify:
                p.ok = self.wl.verify(self.spark, self.data, out) and p.ok
            p.walls, p.extra = dict(tr.walls), dict(out.extra)
            if traced:
                p.extra.update(self.wl.extras(self.spark, self.data, out))
        except Exception:  # a failed pass is counted, the run goes on
            traceback.print_exc()
        finally:
            if out is not None:
                out.release()
            tr.release()
        if not p.ok:
            print(f"pass {p.id} failed its output check", file=sys.stderr)
        self.rss.sample()
        return p

    def run(self, seconds: float, trace: bool) -> tuple[Pass, list, list]:
        cold = self.one(verify=True)
        warm, traced, discarded = [], [], 0
        t0 = time.perf_counter()
        while len(warm) < MIN_WARM or time.perf_counter() - t0 < seconds:
            warm.append(self.one())
            if trace:
                traced.append(self.one(traced=True))
            # walls still falling: the first warm pass is warm-up
            if (len(warm) == 2 and discarded < MAX_WARMUP
                    and warm[0].wall > (1 + LEVEL) * warm[1].wall):
                warm.pop(0)
                discarded += 1
        return cold, warm, traced


def med(values, default=0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


def pass_metrics(cold: Pass, warm: list) -> dict[str, float]:
    """Whole-pass values: the cold pass, and the median warm pass."""
    ok = [p for p in warm if p.ok]
    return {
        "jobs_per_pass": med(p.jobs for p in ok),
        "tasks_per_pass": med(p.tasks for p in ok),
        "shuffle_write_mb": med(p.shuffle_mb for p in ok),
        "cold_pass_s": cold.wall,
        "warm_pass_s": med(p.wall for p in ok),
        "cold_pass_cpu_s": cold.cpu,
        "warm_pass_cpu_s": med(p.cpu for p in ok),
        "jvm.jit_cpu_cold_s": cold.jit_cpu,
        "jvm.jit_cpu_warm_s": med(p.jit_cpu for p in ok),
    }


def layer_metrics(warm: list, traced: list,
                  session_s: float) -> dict[str, float]:
    """Per-layer values: span walls and workload extras from the traced
    passes, job/stage/task/shuffle/Python counters from the event log."""
    ok = [p for p in traced if p.ok]
    logs = glob.glob(os.path.join(WORK, "events", "*"))
    agg = parse_event_log(logs[0]) if len(logs) == 1 else {}
    by_layer = median_by_layer(agg, [p.id for p in ok])
    vals: dict[str, float] = {"spark_util.session_s": session_s}
    layers = {k for p in ok for k in p.walls}
    for layer in layers:
        vals[f"{layer}.wall_s"] = med(p.walls.get(layer, 0.0) for p in ok)
    for layer, stats in by_layer.items():
        prefix = "spark" if layer == "*" else layer
        for k, v in stats.items():
            vals[f"{prefix}.{k}"] = v
    for k in {k for p in ok for k in p.extra}:
        vals[k] = med(p.extra[k] for p in ok if k in p.extra)
    for name, span in SPAN_ALIASES.items():
        vals[name] = vals.get(span, 0.0)
    vals["tracing_overhead_s"] = (med(p.wall for p in ok)
                                  - med(p.wall for p in warm if p.ok))
    vals["layer_walls_ratio"] = med(sum(p.walls.values()) / p.wall
                                    for p in ok)
    return vals


def shutdown(spark) -> None:
    """Stop the session, then the JVM it launched and the JVM's Python
    workers, and wait until each has ended."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while any(map(alive, workers)) and time.monotonic() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    # the program under test must exist before any session starts
    sys.path.insert(0, ROOT)
    import blabel_spark  # noqa: F401

    configure_env(bool(args.trace))
    from blabel_spark.spark_util import get_spark
    wl = WORKLOADS[args.workload](args.size, WORK)
    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{wl.name}", cpus=cores)
    session_s = time.perf_counter() - t0
    try:
        stage_s, data = [], None
        for _ in range(STAGE_REPEATS):
            if data is not None:
                wl.unstage(data)
            t0 = time.perf_counter()
            data = wl.stage(spark, args.seed)
            stage_s.append(time.perf_counter() - t0)
        runner = Runner(spark, wl, data)
        cold, warm, traced = runner.run(args.seconds, bool(args.trace))
    finally:
        shutdown(spark)

    passes = runner.passes
    failed = sum(not p.ok for p in passes)
    print("passes: " + " ".join(
        f"{p.wall:.3f}/{p.cpu:.2f}/{p.jit_cpu:.2f}/{p.jobs}/{p.tasks}"
        f"{'t' if p.traced else ''}{'' if p.ok else '!'}"
        for p in passes) + f"  staging: {' '.join(f'{s:.3f}' for s in stage_s)}"
          f"  session: {session_s:.3f}  items: {data['items']}"
          f"  rss: jvm {runner.rss.jvm_mb:.0f} MB"
          f" + worker {runner.rss.worker_mb:.0f} MB", file=sys.stderr)
    vals = {"setup_s": session_s + statistics.median(stage_s),
            "peak_rss_mb": runner.rss.total_mb, **pass_metrics(cold, warm)}
    if args.trace:
        vals.update(layer_metrics(warm, traced, session_s))
        names = spec["per_layer"]
        print("layers: " + json.dumps(vals, sort_keys=True), file=sys.stderr)
    else:
        names = spec["end_to_end"]
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(passes),
        "failed": failed,
        "metrics": {m["name"]: {"value": float(vals.get(m["name"], 0.0)),
                                "unit": m["unit"]} for m in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

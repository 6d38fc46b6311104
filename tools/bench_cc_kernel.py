#!/usr/bin/env python
"""Interleaved A/B of the CC kernel rewrite (bucketed Arrow groups +
vectorized numpy min-label propagation) against the round-4 per-graph
union-find, at 10x sf0.1 scale (~9M bnode triples, ~2M graphs).

ABBA ordering inside one JVM cancels the box's monotonic drift; equality
is checked on (row count, order-free xxhash64 checksum).

Usage: PYTHONPATH=/root/repo SPARK_DRIVER_MEMORY=48g \
       python tools/bench_cc_kernel.py [cpus]
"""
import json
import sys
import time

import pandas as pd
from pyspark.sql import functions as F

from blabel_spark.canon.distributed import _cc_kernel, is_bnode_col
from blabel_spark.ckpt_util import ckpt_rdd, release
from blabel_spark.ops.triples_view import build_triples
from blabel_spark.spark_util import get_spark

cpus = int(sys.argv[1]) if len(sys.argv) > 1 else 32
spark = get_spark("cc-ab", cpus=cpus)

base = build_triples(spark, "/root/testdata/sf0.1")
corpus = (base.select(
    F.explode(F.sequence(F.lit(0), F.lit(9))).alias("r"), "*")
    .select(F.concat(F.lit("r"), F.col("r").cast("string"), F.lit("_"),
                     "graph_id").alias("graph_id"),
            "subj", "pred", "obj"))
btri = corpus.where(is_bnode_col("subj") | is_bnode_col("obj")) \
    .localCheckpoint(True)
n_btri = btri.count()


def old_cc(btri):
    """Round-4 implementation: one Arrow group per graph, per-edge
    Python union-find (committed at aed3661..0da6ec3)."""
    schema = "graph_id string, bnode string, comp string"

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        g = pdf["graph_id"].iloc[0]
        parent = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for s, o in zip(pdf["subj"], pdf["obj"]):
            bs, bo = s.startswith("_:"), o.startswith("_:")
            if bs:
                parent.setdefault(s, s)
            if bo:
                parent.setdefault(o, o)
            if bs and bo:
                ra, rb = find(s), find(o)
                if ra != rb:
                    parent[rb] = ra
        groups = {}
        for n in parent:
            groups.setdefault(find(n), []).append(n)
        rows = []
        for members in groups.values():
            m = min(members)
            rows.extend((g, n, m) for n in members)
        return pd.DataFrame(rows, columns=["graph_id", "bnode", "comp"])

    return (btri.select("graph_id", "subj", "obj")
            .groupBy("graph_id").applyInPandas(run, schema)
            .localCheckpoint(True))


def measure(fn):
    t0 = time.time()
    df = fn(btri)
    n = df.count()
    wall = round(time.time() - t0, 3)
    # sum in decimal: ANSI mode makes a bigint sum of xxhash64 overflow
    chk = df.agg(F.sum(F.xxhash64("graph_id", "bnode", "comp")
                       .cast("decimal(38,0)")).alias("c")).collect()[0]["c"]
    chk = int(chk)
    release([ckpt_rdd(df)])
    return wall, n, chk


out = {"n_btri": n_btri, "cpus": cpus, "walls": {"new": [], "old": []},
       "seq": []}
# warm-up (JIT + python workers) — one pass of EACH side
measure(_cc_kernel)
measure(old_cc)
for side in ("new", "old", "old", "new", "old", "new", "new", "old"):
    fn = _cc_kernel if side == "new" else old_cc
    wall, n, chk = measure(fn)
    out["walls"][side].append(wall)
    out["seq"].append([side, wall])
    out.setdefault("rows", {})
    out["rows"][side] = (n, chk)
out["rows"] = {k: list(v) for k, v in out["rows"].items()}
out["match"] = out["rows"]["new"] == out["rows"]["old"]
print(json.dumps(out))

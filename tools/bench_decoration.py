#!/usr/bin/env python
"""Within-process interleaved A/B of the prep decoration join key:
(graph_id, anchor-string) equi-join (round-5 HEAD) vs interned long-pair
key (working tree), at 10x sf0.1 in the NON-broadcast regime (2.96M
bnodes > broadcast_rows=2M — the regime the key choice matters in).

Both variants run the full decoration block (join + component key + ten
hash projections) to an eager localCheckpoint + count, so the measured
wall is the whole sf1 "job 26" prep stage.  Equality is checked on
(row count, order-free checksum of the decorated long columns).
Process-internal ABBA after warming BOTH sides — the protocol that
adjudicated the CC kernel (process-external sf1 runs swing 2-7x
per-phase on this box and cannot resolve a 10-20s stage change).

Usage: PYTHONPATH=/root/repo SPARK_DRIVER_MEMORY=48g \
       python tools/bench_decoration.py [cpus]
"""
import json
import sys
import time

from pyspark.sql import functions as F

from blabel_spark.canon.distributed import (
    _ikey, bnode_components, is_bnode_col)
from blabel_spark.ckpt_util import ckpt_rdd, release
from blabel_spark.pair_kernels import term_pair_exprs
from blabel_spark.ops.triples_view import build_triples
from blabel_spark.spark_util import get_spark

cpus = int(sys.argv[1]) if len(sys.argv) > 1 else 32
spark = get_spark("decoration-ab", cpus=cpus)

base = build_triples(spark, "/root/testdata/sf0.1")
corpus = (base.select(
    F.explode(F.sequence(F.lit(0), F.lit(9))).alias("r"), "*")
    .select(F.concat(F.lit("r"), F.col("r").cast("string"), F.lit("_"),
                     "graph_id").alias("graph_id"),
            "subj", "pred", "obj")
    .repartition(cpus))
btri0 = corpus.where(is_bnode_col("subj") | is_bnode_col("obj")) \
    .localCheckpoint(True)
n_btri = btri0.count()
comp = bnode_components(btri0)   # checkpointed by the kernel route
n_bnodes = comp.count()

tp = term_pair_exprs("md5")
p0, p1 = tp(F.col("pred"))
s0, s1 = tp(F.col("subj"))
o0, o1 = tp(F.col("obj"))
c0, c1 = _ikey("graph_id", "comp")
k_s0, k_s1 = _ikey("graph_id", "subj")
k_o0, k_o1 = _ikey("graph_id", "obj")


def projections(df):
    return (df
            .withColumn("ck0", c0).withColumn("ck1", c1)
            .withColumn("p0", p0).withColumn("p1", p1)
            .withColumn("ss0", F.when(~is_bnode_col("subj"), s0))
            .withColumn("ss1", F.when(~is_bnode_col("subj"), s1))
            .withColumn("os0", F.when(~is_bnode_col("obj"), o0))
            .withColumn("os1", F.when(~is_bnode_col("obj"), o1))
            .withColumn("ks0", F.when(is_bnode_col("subj"), k_s0))
            .withColumn("ks1", F.when(is_bnode_col("subj"), k_s1))
            .withColumn("ko0", F.when(is_bnode_col("obj"), k_o0))
            .withColumn("ko1", F.when(is_bnode_col("obj"), k_o1)))


def old_join(btri):
    anchor = F.when(is_bnode_col("subj"),
                    F.col("subj")).otherwise(F.col("obj"))
    return projections(
        btri.withColumn("_anchor", anchor)
        .join(comp.withColumnRenamed("bnode", "_anchor"),
              ["graph_id", "_anchor"])
        .drop("_anchor")).localCheckpoint(True)


def new_join(btri):
    ca0, ca1 = _ikey("graph_id", "bnode")
    comp_keyed = comp.select(ca0.alias("_a0"), ca1.alias("_a1"), "comp")
    ak0 = F.when(is_bnode_col("subj"), k_s0).otherwise(k_o0)
    ak1 = F.when(is_bnode_col("subj"), k_s1).otherwise(k_o1)
    return projections(
        btri.withColumn("_a0", ak0).withColumn("_a1", ak1)
        .join(comp_keyed, ["_a0", "_a1"])
        .drop("_a0", "_a1")).localCheckpoint(True)


def measure(fn):
    t0 = time.time()
    df = fn(btri0)
    n = df.count()
    wall = round(time.time() - t0, 3)
    chk = int(df.agg(F.sum(
        F.xxhash64("graph_id", "ck0", "ck1", "p0", "p1",
                   F.coalesce("ks0", "ss0"), F.coalesce("ko0", "os0"))
        .cast("decimal(38,0)")).alias("c")).collect()[0]["c"])
    release([ckpt_rdd(df)])
    return wall, n, chk


out = {"n_btri": n_btri, "n_bnodes": n_bnodes, "cpus": cpus,
       "walls": {"new": [], "old": []}, "seq": []}
measure(new_join)
measure(old_join)
for side in ("new", "old", "old", "new", "old", "new", "new", "old"):
    fn = new_join if side == "new" else old_join
    wall, n, chk = measure(fn)
    out["walls"][side].append(wall)
    out["seq"].append([side, wall])
    out.setdefault("rows", {})
    out["rows"][side] = (n, chk)
out["rows"] = {k: list(v) for k, v in out["rows"].items()}
out["match"] = out["rows"]["new"] == out["rows"]["old"]
print(json.dumps(out))

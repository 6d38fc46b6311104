#!/usr/bin/env python
"""One timed run of a benchmark class in a fresh process, against whatever
``blabel_spark`` PYTHONPATH resolves — the child half of the interleaved
A/B protocol (tools/ab_run.py).  Prints ONE JSON line; its ``md5`` digests
the class's output so both sides can be checked bit-exact.

Classes:
  deep      4000 chains x diameter 26 -> ~13 colour rounds (the loop
            machinery benchmark; graphs are tiny so route must be forced)
  fixpoint  forced distributed fixpoint over the derived sf-dir corpus
            (prep + 1-2 rounds + mux tail; t_mux is the tail metric)
  giant     ONE graph: the sf0.001 derived triples (bnodes scoped by source
            graph, components of at most 17 rows) plus AB_CHAINS x 26-row
            chains, route="auto" with kernel_graph_rows=20 — component
            routing sends the chains to the loop and the rest to the
            kernel (the test_giant_graph_component_routing fixture)
  dedup     the AB_SF_DIR documents table (AB_SF_DIR must be set):
            word-3 MinHash -> LSH -> ngram_jaccard >= 0.5 ->
            dedup_clusters -> select_keepers into a noop sink (warm-up:
            the sibling sf0.001 directory); md5 is over the sorted keeper
            rows
  kg        AB_CONVS (250) generated transcripts -> extract_triples ->
            lean_graphs -> canonicalize (per-graph route) into a noop
            sink (warm-up: 50 conversations); md5 is over the sorted
            labelled rows

Env: AB_CPUS (32), AB_CHAINS (4000 for deep, 6 for giant), AB_SF_DIR
(/root/testdata/sf0.1), AB_CONVS (250).
A smaller warm-up pass of the same class runs first so JIT/session warmup
never lands in the timed window (the round-2 protocol).
"""
import hashlib
import json
import os
import sys
import time

klass = sys.argv[1] if len(sys.argv) > 1 else "deep"
cpus = int(os.environ.get("AB_CPUS", "32"))

from blabel_spark.canon.distributed import canonicalize  # noqa: E402
from blabel_spark.spark_util import get_spark  # noqa: E402


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def rows_md5(df):
    rows = sorted(map(tuple, df.collect()))
    return hashlib.md5(repr(rows).encode()).hexdigest()


spark = get_spark("ab-child", cpus=cpus)

if klass == "deep":
    from blabel_spark.synthetic import chain

    def build(n_chains):
        rows = []
        for i in range(n_chains):
            rows.extend((f"chain-{i}", s, p, o)
                        for s, p, o in chain(26, tag=f"c{i}_"))
        df = spark.createDataFrame(
            rows, "graph_id string, subj string, pred string, obj string"
        ).localCheckpoint(True)
        df.count()
        return df

    warm = build(400)
    noop(canonicalize(spark, warm, route="fixpoint").labelled)

    deep = build(int(os.environ.get("AB_CHAINS", "4000")))
    n = deep.count()
    t0 = time.time()
    res = canonicalize(spark, deep, route="fixpoint")
    noop(res.labelled)
    wall = round(time.time() - t0, 3)
    rounds = [e["t_round_s"] for e in res.metrics["iterations_log"]]
    out = {"class": "deep", "n_triples": n, "wall_s": wall,
           "triples_per_sec": round(n / wall, 1),
           "iters": res.metrics["colour_iterations"],
           "round_s_min": min(rounds), "round_s_max": max(rounds),
           "t_prep_s": res.metrics["t_prep_s"],
           "t_loop_s": res.metrics["t_loop_s"],
           "t_mux_s": res.metrics.get("t_mux_s"),
           "md5": rows_md5(res.labels)}
elif klass == "fixpoint":
    from blabel_spark.ops.triples_view import build_triples
    sf_dir = os.environ.get("AB_SF_DIR", "/root/testdata/sf0.1")
    warm = build_triples(spark, "/root/testdata/sf0.01").localCheckpoint(True)
    warm.count()
    noop(canonicalize(spark, warm, route="fixpoint").labelled)

    triples = build_triples(spark, sf_dir).localCheckpoint(True)
    n = triples.count()
    t0 = time.time()
    res = canonicalize(spark, triples, route="fixpoint")
    noop(res.labelled)
    wall = round(time.time() - t0, 3)
    out = {"class": "fixpoint", "sf_dir": sf_dir, "n_triples": n,
           "wall_s": wall, "triples_per_sec": round(n / wall, 1),
           "t_prep_s": res.metrics["t_prep_s"],
           "t_loop_s": res.metrics["t_loop_s"],
           "t_leaf_kernel_s": res.metrics["t_leaf_kernel_s"],
           "t_comp_mux_s": res.metrics["t_comp_mux_s"],
           "t_mux_s": res.metrics["t_mux_s"],
           "md5": rows_md5(res.labels)}
elif klass == "giant":
    from pyspark.sql import functions as F

    from blabel_spark.ops.triples_view import build_triples
    from blabel_spark.synthetic import chain

    def scoped(c):
        return F.when(F.col(c).startswith("_:"), F.concat(
            F.lit("_:"), F.col("graph_id"), F.lit("."),
            F.expr(f"substring({c}, 3)"))).otherwise(F.col(c)).alias(c)

    def build(n_chains):
        sf = build_triples(spark, "/root/testdata/sf0.001") \
            .select(F.lit("giant").alias("graph_id"), scoped("subj"),
                    "pred", scoped("obj"))
        chains = spark.createDataFrame(
            [("giant", s, p, o) for i in range(n_chains)
             for s, p, o in chain(26, tag=f"c{i}_")],
            "graph_id string, subj string, pred string, obj string")
        df = sf.union(chains).localCheckpoint(True)
        df.count()
        return df

    warm = build(2)
    noop(canonicalize(spark, warm, kernel_graph_rows=20).labelled)

    giant = build(int(os.environ.get("AB_CHAINS", "6")))
    n = giant.count()
    t0 = time.time()
    res = canonicalize(spark, giant, kernel_graph_rows=20)
    noop(res.labelled)
    wall = round(time.time() - t0, 3)
    out = {"class": "giant", "n_triples": n, "wall_s": wall,
           "triples_per_sec": round(n / wall, 1),
           "iters": res.metrics["colour_iterations"],
           "n_loop_components": res.metrics.get("n_loop_components"),
           "t_prep_s": res.metrics["t_prep_s"],
           "t_loop_s": res.metrics["t_loop_s"],
           "t_leaf_kernel_s": res.metrics["t_leaf_kernel_s"],
           "md5": rows_md5(res.labels)}
elif klass == "dedup":
    from pyspark.sql import functions as F

    from blabel_spark.ops.dedup import (dedup_clusters, lsh_candidate_pairs,
                                        minhash_signatures, ngram_jaccard,
                                        select_keepers)
    from blabel_spark.ops.textstats import quality_score
    sf_dir = os.environ["AB_SF_DIR"]

    def keepers(docs):
        sig = minhash_signatures(docs, n_hashes=4, k=3, unit="word")
        pairs = lsh_candidate_pairs(docs, n_hashes=4, k=3, band_chars=4,
                                    unit="word", signatures=sig)
        verified = ngram_jaccard(docs, pairs, k=3, unit="word") \
            .where(F.col("jaccard") >= 0.5)
        return select_keepers(dedup_clusters(verified), quality_score(docs))

    def load(path):
        df = spark.read.parquet(f"{path}/documents.parquet") \
            .localCheckpoint(True)
        df.count()
        return df

    # warm-up on the smallest sibling scale factor of the timed one
    noop(keepers(load(os.path.join(os.path.dirname(sf_dir), "sf0.001"))))

    docs = load(sf_dir)
    n = docs.count()
    t0 = time.time()
    out_df = keepers(docs)
    noop(out_df)
    wall = round(time.time() - t0, 3)
    out = {"class": "dedup", "sf_dir": sf_dir, "n_docs": n,
           "wall_s": wall, "docs_per_sec": round(n / wall, 1),
           "md5": rows_md5(out_df)}
elif klass == "kg":
    from blabel_spark.datagen import gazetteer, transcripts_df
    from blabel_spark.extract.pipeline import extract_triples
    from blabel_spark.lean.distributed import lean_graphs

    def load(n_convs):
        df = transcripts_df(spark, seed=1, n_convs=n_convs)[0] \
            .localCheckpoint(True)
        df.count()
        return df

    def labelled(transcripts):
        triples = extract_triples(spark, transcripts, gazetteer())
        res = canonicalize(spark, lean_graphs(spark, triples)[0])
        if res.metrics.get("mode") != "by_graph":
            raise SystemExit(f"expected the by_graph route: {res.metrics}")
        return res.labelled

    noop(labelled(load(50)))

    transcripts = load(int(os.environ.get("AB_CONVS", "250")))
    n = transcripts.count()
    t0 = time.time()
    out_df = labelled(transcripts)
    noop(out_df)
    wall = round(time.time() - t0, 3)
    out = {"class": "kg", "n_turns": n, "wall_s": wall,
           "turns_per_sec": round(n / wall, 1), "md5": rows_md5(out_df)}
else:
    raise SystemExit(f"unknown class {klass}")

print(json.dumps(out))

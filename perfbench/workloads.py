"""The benchmark's workloads: staging, one pass, and output checks.

A workload stages its input once (checkpointed + counted before any
timing), then runs passes.  ``run`` is one pass and ends in a real sink;
``check`` is the cheap per-pass output check; ``verify`` is the thorough
check made once per run, untimed.  Checks return False on a wrong output
and may raise; either counts the pass as failed.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import sys
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import inputs
from tracing import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected.json")


def digest(df: DataFrame, cols=("graph_id", "subj", "pred", "obj")) -> str:
    """Order-independent multiset digest: row count plus the sums of two
    independent 64-bit row hashes."""
    r = df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("a"),
                  F.xxhash64(F.lit("2"), *cols).cast("decimal(38,0)")
                  .alias("b")) \
        .agg(F.count("*").alias("n"), F.sum("a").alias("a"),
             F.sum("b").alias("b")).collect()[0]
    return f"{r['n']}:{r['a'] or 0}:{r['b'] or 0}"


def matches_expected(key: str, got: str) -> bool:
    """Compare with the seed-independent digest stored in expected.json
    (recorded from a run whose thorough ``verify`` passed)."""
    with open(EXPECTED) as fh:
        want = json.load(fh).get(key)
    if got != want:
        print(f"{key}: digest {got}, expected {want}", file=sys.stderr)
    return got == want


def release_df(df: DataFrame) -> None:
    from blabel_spark.ckpt_util import ckpt_rdd, release
    release([ckpt_rdd(df)])


@dataclass
class Output:
    """What one pass produced, for its checks and its trace extras."""
    frames: dict[str, DataFrame] = field(default_factory=dict)
    extra: dict[str, float] = field(default_factory=dict)
    cleanup: list = field(default_factory=list)
    path: str = ""

    def release(self) -> None:
        for fn in self.cleanup:
            fn()


class Workload:
    name = ""
    sizes: dict[str, dict] = {}

    def __init__(self, size: str, work: str):
        self.size = size
        self.p = self.sizes[size]
        self.work = work

    def stage(self, spark: SparkSession, seed: int) -> dict:
        raise NotImplementedError

    def run(self, spark, data, tr: Tracer) -> Output:
        raise NotImplementedError

    def check(self, spark, data, out: Output) -> bool:
        raise NotImplementedError

    def verify(self, spark, data, out: Output) -> bool:
        return True

    def extras(self, spark, data, out: Output) -> dict[str, float]:
        """Per-layer counts of a traced pass, taken after its timing."""
        return {}

    @staticmethod
    def unstage(data: dict) -> None:
        for v in data.values():
            if isinstance(v, DataFrame):
                release_df(v)


class KgBuild(Workload):
    """transcripts → extract → lean → canonicalize → materialize_kg, the
    ``jobs/build_kg.py --lean`` job.  Items: transcript turns."""
    name = "kg_build"
    sizes = {"full": {"n_convs": 250, "sample": 10},
             "smoke": {"n_convs": 50, "sample": 10}}

    def stage(self, spark, seed):
        from blabel_spark.datagen import transcripts_df
        tdf, truth = transcripts_df(spark, seed=seed,
                                    n_convs=self.p["n_convs"])
        tdf = tdf.localCheckpoint(True)
        truth = truth.localCheckpoint(True)
        truth.count()
        return {"transcripts": tdf, "truth": truth, "items": tdf.count(),
                "seed": seed, "ref": None, "pass": 0}

    def run(self, spark, data, tr):
        from blabel_spark.canon.distributed import canonicalize
        from blabel_spark.datagen import gazetteer
        from blabel_spark.extract.pipeline import extract_triples
        from blabel_spark.lean.distributed import lean_graphs
        from blabel_spark.sources.io import materialize_kg
        data["pass"] += 1
        out_dir = os.path.join(self.work, "kg", f"pass{data['pass']}")
        out = Output(cleanup=[lambda: shutil.rmtree(out_dir, True)],
                     path=out_dir)
        with tr.layer("extract"):
            triples = tr.settle(extract_triples(
                spark, data["transcripts"], gazetteer()))
        with tr.layer("lean"):
            lean, witness = lean_graphs(spark, triples)
            lean = tr.settle(lean)
        out.cleanup.append(lambda: release_df(lean))
        with tr.layer("canon.by_graph"):
            res = canonicalize(spark, lean)
            labelled = tr.settle(res.labelled)
        out.cleanup.append(res.unpersist)
        if res.metrics.get("mode") != "by_graph":
            raise RuntimeError(f"expected the by_graph route: {res.metrics}")
        with tr.layer("sources"):
            materialize_kg(spark, labelled, lean, out_dir,
                           {k: v for k, v in res.metrics.items()
                            if isinstance(v, (int, float, str))})
        out.frames.update(extracted=triples, witness=witness)
        return out

    @staticmethod
    def kg(spark, out):
        """The KG triple table the pass committed, read back."""
        return spark.read.parquet(f"{out.path}/triples")

    def extras(self, spark, data, out):
        triples, kg = out.frames["extracted"], self.kg(spark, out)
        n_graphs = triples.select("graph_id").distinct().count()
        n_shrunk = (out.frames["witness"]
                    .where(F.col("bnode") != F.col("target"))
                    .select("graph_id").distinct().count())
        files = [os.path.join(d, f)
                 for d, _, fs in os.walk(out.path)
                 for f in fs if f.endswith(".parquet")]
        nbytes = sum(os.path.getsize(f) for f in files)
        return {"extract.rows_out": triples.count(),
                "lean.reduced_graph_ratio": n_shrunk / max(n_graphs, 1),
                "sources.bytes_written_mb": nbytes / (1 << 20),
                "sources.files_written": len(files),
                "sources.bytes_per_triple": nbytes / max(kg.count(), 1)}

    def check(self, spark, data, out):
        d = digest(self.kg(spark, out))
        if data["ref"] is None:
            data["ref"] = d
        return d == data["ref"]

    def verify(self, spark, data, out):
        """Extraction equals the generator's ground truth exactly, and a
        seeded sample of graphs equals the local lean + label oracles."""
        from blabel_spark.canon.local import label_graph
        from blabel_spark.lean.local import lean_graph
        got = {tuple(r) for r in out.frames["extracted"].collect()}
        truth = {tuple(r) for r in data["truth"]
                 .select("conv_id", "subj", "pred", "obj").collect()}
        if got != truth:
            return False
        by_graph: dict[str, list] = {}
        for g, s, p, o in truth:
            by_graph.setdefault(g, []).append((s, p, o))
        rng = random.Random(data["seed"])
        sample = rng.sample(sorted(by_graph), min(self.p["sample"],
                                                  len(by_graph)))
        kg: dict[str, set] = {g: set() for g in sample}
        for r in (self.kg(spark, out).where(F.col("graph_id").isin(sample))
                  .select("graph_id", "subj", "pred", "obj").collect()):
            kg[r[0]].add((r[1], r[2], r[3]))
        return all(
            set(label_graph(list(lean_graph(by_graph[g]).lean)).graph)
            == kg[g] for g in sample)


class CanonGiant(Workload):
    """ONE graph of many small components (derived order triples, bnode
    chains) plus a labelled hub, auto-routed to the distributed fixpoint.
    Items: input triples."""
    name = "canon_giant"
    # the graph is scaled far below production giants; the per-task row
    # threshold of the auto route is scaled with it, so auto still sends
    # the graph to the loop as it would a real giant graph.  The loop's
    # cost is per job, not per row, so the smoke size is the full size.
    FULL = {"n_orders": 100, "n_chains": 50, "chain_len": 4,
            "hub_leaves": 500, "kernel_graph_rows": 1000}
    sizes = {"full": FULL, "smoke": FULL}

    def stage(self, spark, seed):
        p = self.p
        g = inputs.giant_graph(spark, p["n_orders"], p["n_chains"],
                               p["chain_len"], p["hub_leaves"])
        g = inputs.rename_and_shuffle(g, seed).localCheckpoint(True)
        return {"triples": g, "items": g.count()}

    def run(self, spark, data, tr):
        from blabel_spark.canon.distributed import canonicalize
        out = Output()
        with tr.layer("canon.fixpoint"):
            res = canonicalize(spark, data["triples"],
                               kernel_graph_rows=self.p["kernel_graph_rows"])
            labelled = tr.sink(res.labelled)
        out.cleanup.append(res.unpersist)
        m = res.metrics
        if m.get("mode") == "by_graph":
            raise RuntimeError("expected the fixpoint route")
        out.frames["labelled"] = labelled
        log = m.get("iterations_log") or [{}]
        phases = {k: m.get(f"t_{k}_s", 0.0) for k in
                  ("prep", "loop", "leaf_kernel", "comp_mux", "mux")}
        out.extra.update({f"canon.fixpoint.{k}_s": v
                          for k, v in phases.items()})
        out.extra.update({
            "canon.fixpoint.rounds": m.get("colour_iterations", 0),
            "canon.fixpoint.round_s_p50": statistics.median(
                r.get("t_round_s", 0.0) for r in log),
            "canon.fixpoint.round_jobs": statistics.median(
                r.get("n_jobs", 0) for r in log),
            "canon.fixpoint.round_stages": statistics.median(
                r.get("n_stages", 0) for r in log),
        })
        if tr.traced:
            out.extra["canon.fixpoint.unattributed_s"] = \
                tr.walls["canon.fixpoint"] - sum(phases.values())
        return out

    def check(self, spark, data, out):
        return matches_expected(self.name, digest(out.frames["labelled"]))

    def verify(self, spark, data, out):
        """Parity with the per-graph kernel route on the same input."""
        from blabel_spark.canon.distributed import canonicalize
        res = canonicalize(spark, data["triples"], route="by_graph")
        try:
            return digest(res.labelled) == digest(out.frames["labelled"])
        finally:
            res.unpersist()


class DedupDocs(Workload):
    """word-3 MinHash → LSH → n-gram Jaccard ≥ 0.5 → clusters → quality
    keepers.  Items: documents."""
    name = "dedup_docs"
    sizes = {"full": {"n_docs": 800, "sample": 50},
             "smoke": {"n_docs": 200, "sample": 20}}
    THRESHOLD = 0.5

    def stage(self, spark, seed):
        docs = inputs.shuffled_documents(spark, self.p["n_docs"], seed) \
            .localCheckpoint(True)
        return {"docs": docs, "items": docs.count(), "seed": seed}

    def run(self, spark, data, tr):
        from blabel_spark.ops.dedup import (dedup_clusters,
                                            lsh_candidate_pairs,
                                            minhash_signatures,
                                            ngram_jaccard, select_keepers)
        from blabel_spark.ops.textstats import quality_score
        docs = data["docs"]
        with tr.layer("ops.dedup.minhash"):
            sig = tr.settle(minhash_signatures(docs, n_hashes=4, k=3,
                                               unit="word"))
        with tr.layer("ops.dedup.lsh"):
            pairs = tr.settle(lsh_candidate_pairs(
                docs, n_hashes=4, k=3, band_chars=4, unit="word",
                signatures=sig))
        with tr.layer("ops.dedup.jaccard"):
            verified = tr.settle(
                ngram_jaccard(docs, pairs, k=3, unit="word")
                .where(F.col("jaccard") >= self.THRESHOLD))
        with tr.layer("ops.dedup.clusters"):
            clusters = tr.settle(dedup_clusters(verified))
        with tr.layer("ops.dedup.keepers"):
            scores = quality_score(docs)
            keepers = tr.sink(select_keepers(clusters, scores))
        return Output(frames={"pairs": pairs, "verified": verified,
                              "keepers": keepers, "scores": scores})

    def extras(self, spark, data, out):
        n_pairs = out.frames["pairs"].count()
        return {"ops.dedup.candidate_pairs": n_pairs,
                "ops.dedup.verified_ratio":
                    out.frames["verified"].count() / max(n_pairs, 1)}

    def check(self, spark, data, out):
        return matches_expected(
            f"{self.name}/{self.size}",
            digest(out.frames["keepers"],
                   ("doc_id", "cluster_id", "keeper_doc_id", "keep")))

    def verify(self, spark, data, out):
        """Jaccard recomputed on the driver for a seeded sample of
        candidate pairs; clusters equal the union-find of the verified
        pairs; each keeper is its cluster's best-quality member."""
        texts = dict(inputs.documents(self.p["n_docs"]))

        def shingles(t):
            w = [x for x in t.split(" ") if x]
            return {" ".join(w[i:i + 3]) for i in range(max(len(w) - 2, 1))}

        pairs = out.frames["pairs"].collect()
        jac = {(r["doc_a"], r["doc_b"]): r["jaccard"]
               for r in out.frames["verified"].collect()}
        rng = random.Random(data["seed"])
        for r in rng.sample(pairs, min(self.p["sample"], len(pairs))):
            a, b = shingles(texts[r["doc_a"]]), shingles(texts[r["doc_b"]])
            want = round(len(a & b) / len(a | b), 6)
            got = jac.get((r["doc_a"], r["doc_b"]))
            if (want >= self.THRESHOLD) != (got is not None):
                return False
            if got is not None and abs(got - want) > 1e-6:
                return False
        parent: dict[int, int] = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in jac:
            parent[find(a)] = find(b)
        keepers = out.frames["keepers"].collect()
        if {r["doc_id"] for r in keepers} != set(parent):
            return False
        quality = {r["doc_id"]: r["quality"] for r in
                   out.frames["scores"].collect()}
        members: dict[int, list] = {}
        for r in keepers:
            members.setdefault(find(r["doc_id"]), []).append(r)
        for rows in members.values():
            best = min((r["doc_id"] for r in rows),
                       key=lambda d: (-quality[d], d))
            if any(r["keeper_doc_id"] != best
                   or r["keep"] != (r["doc_id"] == best) for r in rows):
                return False
        return True


class KgDedup(Workload):
    """The two training-data jobs back to back in one pass: the KG build
    over transcripts (``KgBuild``), then near-duplicate removal over a
    document corpus (``DedupDocs``).  Each keeps its own input, checks and
    layers; they share a workload so that the benchmark's runs fit its
    time budget (NOTES.md)."""
    name = "kg_dedup"

    def __init__(self, size: str, work: str):
        self.parts = (KgBuild(size, work), DedupDocs(size, work))

    def stage(self, spark, seed):
        data = {p.name: p.stage(spark, seed) for p in self.parts}
        data["items"] = {k: d["items"] for k, d in data.items()}
        return data

    def unstage(self, data):
        for p in self.parts:
            p.unstage(data[p.name])

    def run(self, spark, data, tr):
        outs = [p.run(spark, data[p.name], tr) for p in self.parts]
        return Output(frames={k: v for o in outs for k, v in o.frames.items()},
                      extra={k: v for o in outs for k, v in o.extra.items()},
                      cleanup=[f for o in outs for f in o.cleanup],
                      path=outs[0].path)

    def check(self, spark, data, out):
        return all([p.check(spark, data[p.name], out) for p in self.parts])

    def verify(self, spark, data, out):
        return all([p.verify(spark, data[p.name], out) for p in self.parts])

    def extras(self, spark, data, out):
        return {k: v for p in self.parts
                for k, v in p.extras(spark, data[p.name], out).items()}


WORKLOADS = {w.name: w for w in (KgDedup, CanonGiant)}

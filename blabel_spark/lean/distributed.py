"""Distributed leaning: per-graph core computation.

The reference processes corpora one document at a time through its leaning
stack (RunNQuadsTest.java:257-451); the Spark translation keeps that shape:
conversations/documents are embarrassingly parallel, each graph's core is
computed whole-graph as one ``groups.map_groups`` group.
Leaning cannot be decomposed per bnode-component (a component can map into
a DIFFERENT component of the same graph — e.g. an edge folding into a
longer chain), so the group key is graph_id, not (graph_id, comp).

Escalation ladder, mirroring the reference's staged stack
(GraphLeaning.java:121-140 trivial fixpoint → search):

1. the DFS kernel per graph (``groups.map_groups`` capped at
   ``KERNEL_GRAPH_ROWS`` rows), whose local trivial filter runs before
   its search; a graph too large for one task passes through it
   untouched, sized on the kernel's own exchange — no probe runs first.
2. only for those graphs, ``trivial_prepass`` — the join-based
   trivial-non-lean filter (SURVEY J5, rarest-edge probing) applied
   DISTRIBUTED, with a simultaneity guard so independently-accepted
   mappings cannot invalidate each other — shrinks them, and a second
   capped kernel pass leans the ones that now fit.
3. graphs whose kernel search exceeds its budget, and graphs still over
   the cap, re-route to the BFS join-chain solver (lean.bfs) — the
   partial-solution table is the distributed object.
"""

from __future__ import annotations

from itertools import repeat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blabel_spark import ckpt_util
from blabel_spark.groups import map_groups

_OUT_SCHEMA = ("graph_id string, kind string, a string, b string, c string")

# Graphs with more rows than this never enter the per-graph DFS kernel.
KERNEL_GRAPH_ROWS = 100_000
# DFS kernel search budget per graph; over it the graph goes to lean.bfs.
KERNEL_BUDGET = 200_000
# At most this many graphs per call run the driver-coordinated BFS solver.
MAX_BFS_GRAPHS = 64
# Trivial pre-pass rounds (each a fixed chain of joins).
MAX_PASSES = 8


def trivial_prepass(spark: SparkSession, triples: DataFrame
                    ) -> tuple[DataFrame, DataFrame]:
    """Distributed trivial-non-lean elimination to fixpoint (at most
    ``MAX_PASSES`` passes): per pass, every blank node probes candidate
    dominators on its RAREST edge only (GraphLeaning.java:836-850), exact
    edge-set containment is verified on surviving pairs, and a mapping
    b→y is accepted only when neither y nor any value of b's edges is
    itself dominated this pass — simultaneously-applied mappings
    therefore cannot invalidate each other's containments (a stricter,
    order-free version of the local kernel's sequential guard,
    lean/local.py:96-124).

    Returns (reduced triples, witness (graph_id, bnode, target))."""
    with ckpt_util.scope() as held:
        cur = ckpt_util.checkpoint(
            triples.select("graph_id", "subj", "pred", "obj")
            .dropDuplicates())
        wit_parts: list[DataFrame] = []
        for _ in range(MAX_PASSES):
            # edge identity interned to a 128-bit xxhash64 long pair (the S4
            # flyweight trick, same budget as components._ikey): the
            # containment joins/groupBys below run up to ``MAX_PASSES`` times
            # over THE OVERSIZED-GRAPH PATH, so their shuffle keys must be
            # fixed-width longs, not "±|pred|term" concat strings (reference
            # anchor: GraphLeaning.indexAllEdges interns Edge hashcodes,
            # GraphLeaning.java:485-514).  Node/val stay strings — they are
            # short bnode labels needed for the witness decode.
            def _ekey(sign: int, pred: str, other: str) -> tuple:
                return (F.xxhash64(F.lit(1), "graph_id", F.lit(sign),
                                   F.col(pred), F.col(other)),
                        F.xxhash64(F.lit(2), "graph_id", F.lit(sign),
                                   F.col(pred), F.col(other)))
            sp0, sp1 = _ekey(1, "pred", "obj")
            so0, so1 = _ekey(-1, "pred", "subj")
            edges = ckpt_util.checkpoint(
                cur.select("graph_id", F.col("subj").alias("node"),
                           sp0.alias("e0"), sp1.alias("e1"),
                           F.col("obj").alias("val"))
                .union(cur.select("graph_id", F.col("obj").alias("node"),
                                  so0.alias("e0"), so1.alias("e1"),
                                  F.col("subj").alias("val")))
                .distinct())
            E = ["e0", "e1"]
            cnt = edges.groupBy("graph_id", "node") \
                .agg(F.count("*").alias("n"))
            bedges = edges.where(F.col("node").startswith("_:"))
            freq = edges.groupBy("graph_id", *E).agg(F.count("*").alias("f"))
            rare = (bedges.join(freq, ["graph_id", *E])
                    .groupBy("graph_id", "node")
                    .agg(F.min_by(F.struct(*E), F.struct("f", *E)).alias("e"))
                    .select("graph_id", F.col("node").alias("x"),
                            F.col("e.e0").alias("e0"),
                            F.col("e.e1").alias("e1")))
            cand = (rare.join(edges.select("graph_id",
                                           F.col("node").alias("y"), *E),
                              ["graph_id", *E])
                    .where(F.col("x") != F.col("y"))
                    .select("graph_id", "x", "y"))
            xe = bedges.select("graph_id", F.col("node").alias("x"), *E)
            ye = edges.select("graph_id", F.col("node").alias("y"), *E)
            matched = (cand.join(xe, ["graph_id", "x"])
                       .join(ye, ["graph_id", "y", *E], "left_semi")
                       .groupBy("graph_id", "x", "y")
                       .agg(F.count("*").alias("n_match")))
            cx = cnt.select("graph_id", F.col("node").alias("x"),
                            F.col("n").alias("n_x"))
            # identical-twin rule: equal edge sets keep the smaller name
            cy = cnt.select("graph_id", F.col("node").alias("y"),
                            F.col("n").alias("n_y"))
            dom_pairs = (matched.join(cx, ["graph_id", "x"])
                         .join(cy, ["graph_id", "y"])
                         .where((F.col("n_match") == F.col("n_x"))
                                & (~((F.col("n_x") == F.col("n_y"))
                                     & F.col("y").startswith("_:")
                                     & (F.col("y") > F.col("x"))))))
            dominated, n_dom = ckpt_util.counted(
                dom_pairs.select("graph_id", F.col("x").alias("b"))
                .distinct())
            if not n_dom:
                break
            # simultaneity guard: drop (b→y) when y is dominated or any edge
            # value of b is dominated
            dset_y = dominated.select("graph_id", F.col("b").alias("y"))
            safe = dom_pairs.join(dset_y, ["graph_id", "y"], "left_anti")
            bad_vals = (bedges.select("graph_id", F.col("node").alias("x"),
                                      "val")
                        .join(dominated.select("graph_id",
                                               F.col("b").alias("val")),
                              ["graph_id", "val"], "left_semi")
                        .select("graph_id", "x").distinct())
            safe = safe.join(bad_vals, ["graph_id", "x"], "left_anti")
            accepted, n_acc = ckpt_util.counted(
                safe.groupBy("graph_id", "x").agg(F.min("y").alias("y")))
            if not n_acc:
                break
            wit_parts.append(accepted.select(
                "graph_id", F.col("x").alias("bnode"),
                F.col("y").alias("target")))
            # accepted shares lineage (and therefore attribute ids) with cur,
            # so the mapping application renames its join keys outright —
            # df.col-based self-join disambiguation is not reliable here
            sm = accepted.select(F.col("graph_id").alias("_sg"),
                                 F.col("x").alias("_sb"),
                                 F.col("y").alias("_st"))
            om = accepted.select(F.col("graph_id").alias("_og"),
                                 F.col("x").alias("_ob"),
                                 F.col("y").alias("_ot"))
            nxt = ckpt_util.checkpoint(
                cur.join(sm, on=[F.col("graph_id") == F.col("_sg"),
                                 F.col("subj") == F.col("_sb")], how="left")
                .drop("_sg", "_sb")
                .join(om, on=[F.col("graph_id") == F.col("_og"),
                              F.col("obj") == F.col("_ob")], how="left")
                .drop("_og", "_ob")
                .select("graph_id",
                        F.coalesce("_st", "subj").alias("subj"), "pred",
                        F.coalesce("_ot", "obj").alias("obj"))
                .dropDuplicates())
            # dead once nxt has materialized; the witness reads accepted
            held.release(edges, dominated, cur)
            cur = nxt
        if wit_parts:
            wit = wit_parts[0]
            for p in wit_parts[1:]:
                wit = wit.union(p)
            # transitive composition (GraphLeaning.transitiveClosure:448-483):
            # a pass-k target may itself be remapped in a later pass; chain
            # length is bounded by the pass count
            m = ckpt_util.checkpoint(wit.select(
                F.col("graph_id").alias("_mg"), F.col("bnode").alias("_b"),
                F.col("target").alias("_t")))
            held.keep(m)   # the returned witness reads m
            for _ in range(len(wit_parts)):
                wit = (wit.join(m, on=[F.col("graph_id") == F.col("_mg"),
                                       F.col("target") == F.col("_b")],
                                how="left")
                       .drop("_mg", "_b")
                       .select("graph_id", "bnode",
                               F.coalesce("_t", "target").alias("target")))
        else:
            wit = spark.createDataFrame(
                [], "graph_id string, bnode string, target string")
        held.keep(cur, *wit_parts)
        return cur, wit


def _kernel_fn(budget: int):
    def _kernel(graphs):
        from blabel_spark.lean.local import LeanBudgetExceeded, lean_graph
        for pdf in graphs:
            graph_id = pdf["graph_id"].iloc[0]
            triples = list(zip(pdf["subj"], pdf["pred"], pdf["obj"]))
            try:
                res = lean_graph(triples, budget=budget)
            except LeanBudgetExceeded:
                # over-budget graphs are flagged and re-routed to the
                # distributed BFS join-chain solver by lean_graphs (the
                # reference escalates through its leaning configs the same
                # way; per-document timeout reporting at
                # RunNQuadsTest.java:296-320)
                yield from ((graph_id, "t", s, p, o)
                            for s, p, o in sorted(set(triples)))
                yield (graph_id, "w", "__budget_exceeded__", "", "")
                continue
            yield from ((graph_id, "t", s, p, o) for s, p, o in res.lean)
            yield from ((graph_id, "w", k, v, "")
                        for k, v in sorted(res.core_map.items()))
    return _kernel


def _passed_through(pdf):
    """A batch slice of an oversized graph, handed back unleaned."""
    return zip(pdf["graph_id"], repeat("p"), pdf["subj"], pdf["pred"],
               pdf["obj"])


def _kernel_pass(tri: DataFrame) -> tuple[DataFrame, int, int]:
    """One capped kernel pass, checkpointed: (out, flagged graphs' flag
    rows, pass-through rows), both counts observed by the checkpoint."""
    return ckpt_util.counted(
        map_groups(tri, ["graph_id"], _kernel_fn(KERNEL_BUDGET),
                   _OUT_SCHEMA, max_rows=KERNEL_GRAPH_ROWS,
                   over=_passed_through),
        (F.col("kind") == "w") & (F.col("a") == "__budget_exceeded__"),
        F.col("kind") == "p")


def lean_graphs(spark: SparkSession, triples: DataFrame
                ) -> tuple[DataFrame, DataFrame]:
    """Returns (lean_triples, witness) DataFrames.

    lean_triples: (graph_id, subj, pred, obj) — the per-graph cores.
    witness:      (graph_id, bnode, target) — complete core maps.

    Scale routing rides the kernel pass itself: ``map_groups`` sizes
    every graph on its own exchange, so no probe runs first and the
    input plan runs once.  A graph that fits a task (≤
    ``KERNEL_GRAPH_ROWS`` rows) goes straight to the per-graph DFS
    kernel — the reference's per-document regime; the kernel's own
    trivial filter runs before its search (GraphLeaning.java:121-140).
    Larger graphs pass through the kernel untouched; only when some do,
    the distributed trivial-non-lean filter runs on them alone, shrinking
    them before a second capped pass.  Graphs still over the threshold
    after it never enter the kernel (a merely-huge graph would otherwise
    OOM one task) — they go to the BFS solver when their residual
    pattern count permits, else pass through flagged.

    Graphs whose DFS kernel search exceeds ``KERNEL_BUDGET``
    (combinatorially hard, not merely large) are re-run through the
    distributed BFS join-chain solver (lean.bfs) — its huge
    partial-solution table is sharded across executors, which is exactly
    the resource the single-task kernel lacks.  The driver processes at
    most ``MAX_BFS_GRAPHS`` such graphs (each is a driver-coordinated
    join chain); any beyond the cap — and any graph that exhausts BOTH
    budgets — passes through unleaned with a ``__budget_exceeded__``
    witness row, the reference's per-document timeout behaviour
    (RunNQuadsTest.java:296-320).  No driver-side collect in this
    function is larger than ``MAX_BFS_GRAPHS`` ids + the witness maps.
    """
    out, n_over, n_pass = _kernel_pass(
        triples.select("graph_id", "subj", "pred", "obj"))
    pre_wit, n_big = None, 0
    if n_pass:
        passed = out.where(F.col("kind") == "p").select(
            "graph_id", F.col("a").alias("subj"), F.col("b").alias("pred"),
            F.col("c").alias("obj"))
        tri, pre_wit = trivial_prepass(spark, passed)
        # graphs still too large for one task pass through again
        out2, n_over2, n_big = _kernel_pass(tri)
        out = out.where(F.col("kind") != "p").union(out2)
        n_over += n_over2
    # a flagged graph's "t" rows and an oversized graph's "p" rows are its
    # (deduplicated) input: the BFS solver's, or the unleaned pass-through
    lean = (out.where(F.col("kind") != "w")
            .select("graph_id", F.col("a").alias("subj"),
                    F.col("b").alias("pred"), F.col("c").alias("obj")))
    witness = (out.where(F.col("kind") == "w")
               .select("graph_id", F.col("a").alias("bnode"),
                       F.col("b").alias("target")))

    # bounded collects, run only when an observed count says they find
    # something: kernel-flagged (hard) graphs first — they are the BFS
    # solver's intended case — then oversized ones, up to the cap
    todo = []
    if n_over:
        todo = sorted(
            r["graph_id"] for r in
            out.where((F.col("kind") == "w")
                      & (F.col("a") == "__budget_exceeded__"))
            .select("graph_id").distinct()
            .limit(MAX_BFS_GRAPHS + 1).collect())[:MAX_BFS_GRAPHS]
    big_ids = out.where(F.col("kind") == "p").select("graph_id").distinct()
    if n_big:
        big_list = [r["graph_id"] for r in
                    big_ids.limit(MAX_BFS_GRAPHS + 1).collect()]
        todo += sorted(set(big_list) - set(todo))[
            :MAX_BFS_GRAPHS - len(todo)]

    if todo:
        from blabel_spark.lean.bfs import BFSBudgetExceeded, bfs_lean_graph
        redo = spark.createDataFrame([(g,) for g in todo],
                                     "graph_id string")
        # kernel output of re-routed graphs is replaced by BFS output;
        # anti-join against the (≤ MAX_BFS_GRAPHS)-row id table, never a
        # driver-built isin over an unbounded list
        source = lean
        lean = lean.join(F.broadcast(redo), "graph_id", "left_anti")
        witness = witness.join(F.broadcast(redo), "graph_id", "left_anti")
        extra_lean, extra_wit = [], []
        for g in todo:
            gtri = source.where(F.col("graph_id") == g) \
                         .select("subj", "pred", "obj")
            try:
                lean_df, core = bfs_lean_graph(spark, gtri)
                extra_lean.append(lean_df.select(
                    F.lit(g).alias("graph_id"), "subj", "pred", "obj"))
                extra_wit.extend((g, k, v) for k, v in sorted(core.items()))
            except BFSBudgetExceeded:
                extra_lean.append(gtri.select(
                    F.lit(g).alias("graph_id"), "subj", "pred", "obj"))
                extra_wit.append((g, "__budget_exceeded__", ""))
        for df in extra_lean:
            lean = lean.union(df)
        if extra_wit:
            witness = witness.union(spark.createDataFrame(
                extra_wit, "graph_id string, bnode string, target string"))

    # oversized graphs NOT processed above (beyond the cap) keep their
    # pass-through rows in ``lean`` and are flagged — the id set stays a
    # DataFrame, nothing unbounded reaches the driver
    if n_big:
        done = spark.createDataFrame([(g,) for g in todo],
                                     "graph_id string")
        rest = big_ids.join(F.broadcast(done), "graph_id", "left_anti")
        witness = witness.union(rest.select(
            "graph_id", F.lit("__budget_exceeded__").alias("bnode"),
            F.lit("").alias("target")))
    if pre_wit is not None:
        # compose pre-pass eliminations through the kernel's map: an
        # eliminated bnode's target may itself have been remapped by the
        # residual search
        kw = witness.select(F.col("graph_id").alias("_kg"),
                            F.col("bnode").alias("_b"),
                            F.col("target").alias("_t"))
        pre_comp = (pre_wit.join(kw, on=[F.col("graph_id") == F.col("_kg"),
                                         F.col("target") == F.col("_b")],
                                 how="left")
                    .drop("_kg", "_b")
                    .select("graph_id", "bnode",
                            F.coalesce("_t", "target").alias("target")))
        witness = witness.union(pre_comp)
    return lean, witness

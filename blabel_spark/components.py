"""Connected components: the engine's one implementation.

blabel partitions a graph's blank nodes into connected components
(HashGraph.blankNodePartition, HashGraph.java:260-304); near-duplicate
dedup clusters documents by the components of their pair graph.  Both
label every node with its component's minimum member (the reference's
pivot).  ``union_find`` is the in-memory algorithm; ``components`` runs
it on Spark, or, when a group's edges do not fit one task, a min-label
propagation loop with pointer doubling.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from blabel_spark import ckpt_util
from blabel_spark.groups import map_groups

KERNEL_ROWS = 2_000_000   # a group with at most this many edge rows fits a task
MAX_ROUNDS = 64           # a 2^64-diameter chain would be needed to reach it


def union_find(pairs) -> dict:
    """{node: root} over the ``(a, b)`` edges; ``a == b`` registers an
    isolated node.  The smaller root always becomes the parent, so a root
    IS its component's minimum member."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]   # path halving
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _ikey(*cols) -> tuple:
    """Flyweight term interning (S4, LabelRDFGraph.java:220-221 analogue):
    a deterministic 128-bit key for a (graph, term) or (graph, comp) tuple
    as two independently-seeded xxhash64 columns — pure codegen (native
    JVM hash, far cheaper than md5), no dictionary shuffle, stable across
    restarts (checkpoint-resume safe).  Loops then shuffle, join and sort
    fixed-width longs instead of N3 strings; 128 bits keep the
    accidental-collision probability negligible at 10^12-row scale (same
    budget the colour digests already accept)."""
    return (F.xxhash64(F.lit(1), *[F.col(c) for c in cols]),
            F.xxhash64(F.lit(2), *[F.col(c) for c in cols]))


def components(edges: DataFrame, group=(),
               rows_bound: int | None = None) -> DataFrame:
    """``(*group, node, comp)`` for every node of ``edges (*group, a, b)``:
    comp is the minimum node of its component within the group; a row
    with ``a == b`` registers an isolated node.

    ``rows_bound`` bounds the largest group's edge rows (None: one
    aggregation measures it).  At most ``KERNEL_ROWS`` rows, ``union_find``
    runs in one task per group (ungrouped: in one task, with no exchange);
    above it, the loop runs.  The loop's result is a checkpoint kept for
    the caller's scope; the kernel's is lazy."""
    group = list(group)
    if rows_bound is None:
        rows_bound = (edges.groupBy(*group).count()
                      .agg(F.max("count")).collect()[0][0]) or 0
    if rows_bound <= KERNEL_ROWS:
        return _kernel(edges, group)
    return _loop(edges, group)


def _kernel(edges: DataFrame, group: list) -> DataFrame:
    t = edges.schema["a"].dataType
    schema = StructType([edges.schema[g] for g in group]
                        + [StructField("node", t), StructField("comp", t)])

    edges = edges.select(*group, "a", "b")
    if group:
        # a task holds one Arrow batch plus its largest group
        def per_group(pdfs):
            for pdf in pdfs:
                keys = [pdf[g].iloc[0] for g in group]
                root = union_find(zip(pdf["a"], pdf["b"]))
                yield from ((*keys, n, r) for n, r in root.items())
        return map_groups(edges, group, per_group, schema)

    def run(batches):
        root = union_find(e for pdf in batches
                          for e in zip(pdf["a"], pdf["b"]))
        if root:
            yield pd.DataFrame({"node": list(root),
                                "comp": list(root.values())})

    # one task over the whole edge table, with no exchange
    return edges.coalesce(1).mapInPandas(run, schema)


def _loop(edges: DataFrame, group: list) -> DataFrame:
    """Min-label propagation on interned (group, node) keys.  Each round
    also jumps comp ← comp[comp] (pointer doubling), so convergence takes
    O(log diameter) rounds; reaching ``MAX_ROUNDS`` raises instead of
    returning a component split across fake pivots."""
    ka0, ka1 = _ikey(*group, "a")
    kb0, kb1 = _ikey(*group, "b")
    nodes = (edges.select(*group, F.col("a").alias("node"),
                          ka0.alias("k0"), ka1.alias("k1"))
             .union(edges.select(*group, F.col("b").alias("node"),
                                 kb0.alias("k0"), kb1.alias("k1")))
             .distinct())
    links = (edges.where(F.col("a") != F.col("b"))
             .select(ka0.alias("a0"), ka1.alias("a1"),
                     kb0.alias("b0"), kb1.alias("b1"))
             .distinct())
    with ckpt_util.scope() as held:
        sym = ckpt_util.checkpoint(links.union(links.select(
            F.col("b0").alias("a0"), F.col("b1").alias("a1"),
            F.col("a0").alias("b0"), F.col("a1").alias("b1"))))
        comp = ckpt_util.checkpoint(nodes.withColumn("comp", F.col("node")))
        pk0, pk1 = _ikey(*group, "comp")
        for _ in range(MAX_ROUNDS):
            # pointer doubling fused into the propagation join: besides the
            # symmetric edges, every node contributes a virtual edge
            # comp(b) → b, so the min-aggregation sees comp(comp(b)) in the
            # SAME join — one shuffle per round
            pointer = comp.select(pk0.alias("a0"), pk1.alias("a1"),
                                  F.col("k0").alias("b0"),
                                  F.col("k1").alias("b1"))
            compr = comp.select(F.col("k0").alias("n0"),
                                F.col("k1").alias("n1"),
                                F.col("comp").alias("nbr_comp"))
            nbrs = sym.union(pointer)
            nbr_min = (
                nbrs.join(compr, on=[nbrs.a0 == compr.n0, nbrs.a1 == compr.n1])
                .groupBy("b0", "b1")
                .agg(F.min("nbr_comp").alias("nbr_comp")))
            least = F.least("comp", F.coalesce("nbr_comp", "comp"))
            # one job per round: the checkpoint materializes the round's
            # state, truncates lineage and observes the changed count
            new, n_changed = ckpt_util.counted(
                comp.join(nbr_min, on=[comp.k0 == nbr_min.b0,
                                       comp.k1 == nbr_min.b1], how="left")
                .select(*group, "node", "k0", "k1", least.alias("comp"),
                        (F.col("comp") != least).alias("changed")),
                "changed")
            held.release(comp)   # superseded: O(1) retained tables
            comp = new.drop("changed")
            if n_changed == 0:
                held.keep(comp)   # sym dies with the scope
                return comp.drop("k0", "k1")
    raise RuntimeError(
        f"connected components did not converge in {MAX_ROUNDS} rounds — "
        "input graph pathologically deep or corrupted")

"""BFS graph leaning as a chained DataFrame equi-join (SURVEY J3).

The reference's BFSGraphLeaning (lean/BFSGraphLeaning.java:82-137)
evaluates the graph's own blank-node patterns as a breadth-first join —
ALL partial homomorphisms are carried forward pattern by pattern — then
keeps the solution binding the fewest distinct blank nodes
(getCore, BFSGraphLeaning.java:36-60).  That shape is exactly a Spark
join chain: the (potentially huge) partial-solution table is the
distributed object, while the pattern list (the graph's bnode triples) is
small and drives the plan from the driver.

This is the distributed fallback for graphs whose DFS kernel search
exceeds its budget: combinatorially hard graphs have few patterns but
exponentially many partial solutions — precisely the table Spark can
shard across executors.  Pattern order uses the reference's
shared-variable adjacency rule (GraphLeaning.java:852-913): patterns
joining already-bound variables first, rarest predicate as tie-break, so
cross joins only appear between genuinely disconnected components (as in
the reference).

An outer fixpoint loop re-runs the search on the mapped graph until no
proper solution remains (DFSGraphLeaning.call:63-83 recursion), so the
result is THE core regardless of solution-application order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blabel_spark import ckpt_util
from blabel_spark.canon.local import is_bnode


# Budget on the partial-solution table's row count.
MAX_ROWS = 2_000_000
# Budget on a graph's blank-node triples (the driver-side pattern list).
MAX_PATTERNS = 5_000


class BFSBudgetExceeded(Exception):
    pass


def _order_patterns(patterns: list[tuple[str, str, str]]
                    ) -> list[tuple[str, str, str]]:
    """Shared-variable-adjacent greedy order, rarest predicate first."""
    from collections import Counter
    pred_freq = Counter(p for _, p, _ in patterns)
    remaining = list(patterns)
    ordered: list[tuple[str, str, str]] = []
    bound: set[str] = set()

    def key(pat):
        s, p, o = pat
        shared = sum(1 for t in (s, o) if is_bnode(t) and t in bound)
        n_ground = sum(1 for t in (s, o) if not is_bnode(t))
        return (-shared, -n_ground, pred_freq[p], pat)

    while remaining:
        nxt = min(remaining, key=key)
        remaining.remove(nxt)
        ordered.append(nxt)
        for t in (nxt[0], nxt[2]):
            if is_bnode(t):
                bound.add(t)
    return ordered


def _solutions(gtriples: DataFrame, patterns: list[tuple[str, str, str]],
               held: ckpt_util.Scope
               ) -> tuple[DataFrame, list[str], list[str]]:
    """Chained-join evaluation: returns (solution table with one column
    per blank node, column aliases, bnode names — both sorted by bnode).
    Each pattern's table lives in ``held`` until the next one has
    materialized."""
    spark = gtriples.sparkSession
    sols = spark.range(1).select(F.lit(1).alias("_one"))
    cols: dict[str, str] = {}   # bnode → solution column name

    for i, (s, p, o) in enumerate(patterns):
        cand = gtriples.where(F.col("pred") == F.lit(p)) \
                       .select(F.col("subj").alias("_cs"),
                               F.col("obj").alias("_co"))
        conds = []
        new_binds = []
        if is_bnode(s):
            if s in cols:
                conds.append(F.col(cols[s]) == F.col("_cs"))
            else:
                new_binds.append((s, "_cs"))
        else:
            cand = cand.where(F.col("_cs") == F.lit(s))
        if is_bnode(o):
            if o == s and s not in cols:
                conds.append(F.col("_cs") == F.col("_co"))
            elif o in cols:
                conds.append(F.col(cols[o]) == F.col("_co"))
            elif o != s:
                new_binds.append((o, "_co"))
        else:
            cand = cand.where(F.col("_co") == F.lit(o))

        joined = sols.crossJoin(cand) if not conds else \
            sols.join(cand, on=conds[0] if len(conds) == 1
                      else conds[0] & conds[1])
        for bnode, src in new_binds:
            alias = f"v{len(cols)}"
            cols[bnode] = alias
            joined = joined.withColumn(alias, F.col(src))
        nxt, n = ckpt_util.counted(joined.drop("_cs", "_co").dropDuplicates())
        held.release(sols)
        sols = nxt
        if n == 0:
            # should never happen: identity is always a solution
            raise BFSBudgetExceeded("no solution — inconsistent input")
        if n > MAX_ROWS:
            raise BFSBudgetExceeded(
                f"solution table {n} rows > budget {MAX_ROWS} "
                f"after pattern {i + 1}/{len(patterns)}")
    return sols, [cols[b] for b in sorted(cols)], sorted(cols)


def bfs_lean_graph(spark: SparkSession, gtriples: DataFrame
                   ) -> tuple[DataFrame, dict[str, str]]:
    """Lean ONE graph (gtriples: subj/pred/obj of a single graph)
    distributed.  Returns (lean triples DataFrame, composed core map).

    Raises BFSBudgetExceeded when the solution table outgrows
    ``MAX_ROWS`` (the caller flags and passes the graph through, as the
    reference does on per-document timeout, RunNQuadsTest.java:296-320),
    or when the graph has more than ``MAX_PATTERNS`` bnode triples: the
    pattern list is a driver-side object that drives one chained join
    per pattern, so it must stay small — a graph that large is *big*,
    not combinatorially hard, which is the trivial pre-pass's regime,
    not this solver's.  The bound makes the driver-side collect loud
    and O(MAX_PATTERNS) instead of O(graph).
    """
    with ckpt_util.scope() as held:
        core: dict[str, str] = {}
        current = ckpt_util.checkpoint(
            gtriples.select("subj", "pred", "obj").dropDuplicates())
        while True:
            prows = (current.where(F.col("subj").startswith("_:")
                                   | F.col("obj").startswith("_:"))
                     .limit(MAX_PATTERNS + 1).collect())
            if len(prows) > MAX_PATTERNS:
                raise BFSBudgetExceeded(
                    f"graph has > {MAX_PATTERNS} blank-node triples — too "
                    "large for the BFS pattern-join solver (route it through "
                    "trivial_prepass / pass-through instead)")
            patterns = [(r["subj"], r["pred"], r["obj"]) for r in prows]
            if not patterns:
                break
            bnodes = sorted({t for s, _, o in patterns for t in (s, o)
                             if is_bnode(t)})
            for b in bnodes:
                core.setdefault(b, b)
            sols, sol_cols, sol_bnodes = _solutions(
                current, _order_patterns(patterns), held)
            # fewest distinct bnode bindings, and strictly proper
            # (BFSGraphLeaning.getCore:36-60); deterministic tie-break by the
            # full binding tuple
            arr = F.array(*[F.col(c) for c in sol_cols])
            nb = F.size(F.array_distinct(
                F.filter(arr, lambda x: x.startswith("_:"))))
            best = (sols.withColumn("_nb", nb)
                    .where(F.col("_nb") < len(sol_cols))
                    .orderBy("_nb", *sol_cols)
                    .limit(1).collect())
            if not best:
                break   # no proper endomorphism → lean
            sol = best[0]
            mapping = {b: sol[c] for b, c in zip(sol_bnodes, sol_cols)}
            for k in core:
                core[k] = mapping.get(core[k], core[k])
            # apply the mapping (mapData, BFSGraphLeaning.java:51-53)
            m_df = spark.createDataFrame(
                sorted(mapping.items()), "b string, t string")
            sm = m_df.select(F.col("b").alias("_sb"), F.col("t").alias("_st"))
            om = m_df.select(F.col("b").alias("_ob"), F.col("t").alias("_ot"))
            nxt = ckpt_util.checkpoint(
                current
                .join(F.broadcast(sm), current.subj == F.col("_sb"), "left")
                .join(F.broadcast(om), current.obj == F.col("_ob"), "left")
                .select(F.coalesce("_st", "subj").alias("subj"), "pred",
                        F.coalesce("_ot", "obj").alias("obj"))
                .dropDuplicates())
            held.release(sols, current)   # superseded by the mapped graph
            current = nxt
        held.keep(current)
        return current, core

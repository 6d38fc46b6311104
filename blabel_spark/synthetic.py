"""Synthetic-class benchmark harness — the Spark counterpart of the
reference's ``RunSyntheticEvaluation`` (cli/RunSyntheticEvaluation.java):
generate hard graph classes (cycles, grids, cliques, stars, chains — the
bliss-style families, CLI-SYN:344-365), run LEAN / LABEL / BOTH over the
corpus, and emit one reference-format TSV row per document
(``LABEL doc triples bnodes ms colourIters leaves`` /
``LEAN doc triples bnodes ms leanTriples leanBnodes removed``,
RunNQuadsTest.java:307,341) — the exact input ``ops.analyse`` re-aggregates.

The corpus is built driver-side (classes are parametric, not data), the
benchmark runs distributed: one timed kernel call per graph, one
``groups.map_groups`` group per graph, failures recorded as negative
runtimes (the reference's timeout convention)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blabel_spark.groups import map_groups


# ---------------------------------------------------------------------------
# graph classes (undirected edges as two directed triples, CLI-SYN:344-365)
# ---------------------------------------------------------------------------

def cycle(n: int, tag: str = "") -> list:
    return [(f"_:{tag}c{i}", "<p>", f"_:{tag}c{(i + 1) % n}")
            for i in range(n)]


def grid(rows: int, cols: int, tag: str = "") -> list:
    t = []
    for r in range(rows):
        for c in range(cols):
            for r2, c2 in ((r + 1, c), (r, c + 1)):
                if r2 < rows and c2 < cols:
                    a, b = f"_:{tag}g{r}_{c}", f"_:{tag}g{r2}_{c2}"
                    t += [(a, "<p>", b), (b, "<p>", a)]
    return t


def clique(k: int, tag: str = "") -> list:
    return [(f"_:{tag}k{i}", "<p>", f"_:{tag}k{j}")
            for i in range(k) for j in range(k) if i != j]


def star(k: int, tag: str = "") -> list:
    return [(f"_:{tag}h", "<p>", f"_:{tag}s{i}") for i in range(k)]


def chain(n: int, tag: str = "") -> list:
    return [(f"_:{tag}n{i}", "<p>", f"_:{tag}n{i + 1}") for i in range(n)]


CLASSES = {"cycle": cycle, "grid": lambda k, tag="": grid(k, k, tag),
           "clique": clique, "star": star, "chain": chain}


def synthetic_corpus(spark: SparkSession,
                     spec: list[tuple[str, int]]) -> DataFrame:
    """spec: [(class_name, size), ...] → one graph per entry, graph_id
    ``<class>-<size>``."""
    rows = []
    for name, size in spec:
        gid = f"{name}-{size}"
        for s, p, o in CLASSES[name](size, tag=f"{name}{size}"):
            rows.append((gid, s, p, o))
    return spark.createDataFrame(
        rows, "graph_id string, subj string, pred string, obj string")


# ---------------------------------------------------------------------------
# the benchmark loop (RunSyntheticEvaluation.Benchmark LEAN|LABEL|BOTH)
# ---------------------------------------------------------------------------

_ROW_SCHEMA = ("mode string, doc string, triples long, bnodes long, "
               "runtime_ms long, x1 long, x2 long")


def run_benchmark(spark: SparkSession, corpus: DataFrame,
                  mode: str = "BOTH", lean_budget: int = 200_000
                  ) -> DataFrame:
    """Timed per-graph kernel runs → reference-format benchmark rows:
    LABEL rows carry (colour_iterations, leaf_count) in (x1, x2); LEAN
    rows carry (lean_triples, lean_bnodes).  Negative runtime = the
    kernel gave up (budget), mirroring the reference's timeout rows."""
    mode = mode.upper()
    if mode not in ("LEAN", "LABEL", "BOTH"):
        raise ValueError(f"mode must be LEAN|LABEL|BOTH, got {mode!r}")

    def run(graphs):
        import time
        from blabel_spark.canon.local import is_bnode, label_graph
        from blabel_spark.lean.local import LeanBudgetExceeded, lean_graph
        for gpdf in graphs:
            doc = gpdf["graph_id"].iloc[0]
            trips = sorted(set(zip(gpdf["subj"], gpdf["pred"],
                                   gpdf["obj"])))
            nb = len({t for tr in trips for t in (tr[0], tr[2])
                      if is_bnode(t)})
            if mode in ("LABEL", "BOTH"):
                t0 = time.perf_counter()
                try:
                    res = label_graph(trips)
                    ms = int((time.perf_counter() - t0) * 1000)
                    yield ("LABEL", doc, len(trips), nb, ms,
                           res.colour_iterations, res.leaf_count)
                except Exception:
                    ms = -max(int((time.perf_counter() - t0) * 1000), 1)
                    yield ("LABEL", doc, len(trips), nb, ms, 0, 0)
            if mode in ("LEAN", "BOTH"):
                t0 = time.perf_counter()
                try:
                    lr = lean_graph(trips, budget=lean_budget)
                    ms = int((time.perf_counter() - t0) * 1000)
                    lb = len({t for tr in lr.lean for t in (tr[0], tr[2])
                              if is_bnode(t)})
                    yield ("LEAN", doc, len(trips), nb, ms, len(lr.lean),
                           lb)
                except LeanBudgetExceeded:
                    ms = -max(int((time.perf_counter() - t0) * 1000), 1)
                    yield ("LEAN", doc, len(trips), nb, ms, 0, 0)

    return map_groups(corpus, ["graph_id"], run, _ROW_SCHEMA)


def to_tsv_lines(bench: DataFrame) -> DataFrame:
    """Render benchmark rows as the reference's TSV lines (consumable by
    ``ops.analyse.read_bench_tsv`` and the reference's own analyser)."""
    return bench.select(F.concat_ws(
        "\t", "mode", "doc", "triples", "bnodes", "runtime_ms",
        "x1", "x2").alias("value"))

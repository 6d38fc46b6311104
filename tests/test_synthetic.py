"""RunSyntheticEvaluation parity: class generators, the distributed
timed benchmark loop, reference-format TSV output, and the round-trip
into the analyse reporter."""

from blabel_spark.ops.analyse import corpus_summary, read_bench_tsv
from blabel_spark.synthetic import (
    run_benchmark,
    synthetic_corpus,
    to_tsv_lines,
)

SPEC = [("cycle", 6), ("grid", 3), ("clique", 4), ("star", 8),
        ("chain", 10)]


def test_corpus_shapes(spark):
    df = synthetic_corpus(spark, SPEC)
    n = {r["graph_id"]: r["n"] for r in
         df.groupBy("graph_id").count().withColumnRenamed("count", "n")
         .collect()}
    assert n["cycle-6"] == 6
    assert n["grid-3"] == 24         # 12 undirected edges × 2
    assert n["clique-4"] == 12
    assert n["star-8"] == 8
    assert n["chain-10"] == 10


def test_benchmark_both_modes(spark, recwarn):
    bench = run_benchmark(spark, synthetic_corpus(spark, SPEC),
                          mode="BOTH").collect()
    assert not [w for w in recwarn
                if "Cannot infer the eval type" in str(w.message)]
    by = {(r["mode"], r["doc"]): r for r in bench}
    assert len(by) == 2 * len(SPEC)
    lab = by[("LABEL", "clique-4")]
    assert lab["triples"] == 12 and lab["bnodes"] == 4
    assert lab["runtime_ms"] >= 0 and lab["x1"] >= 1   # colour iterations
    lean = by[("LEAN", "cycle-6")]
    # even directed cycles fold onto shorter cycles (C6 → C3 … → C2? no:
    # C6 folds to C3, C3 is lean); assert the harness recorded the core
    assert 0 < lean["x1"] <= 6
    assert lean["runtime_ms"] >= 0


def test_tsv_roundtrip_into_analyse(spark, tmp_path):
    bench = run_benchmark(spark, synthetic_corpus(spark, SPEC),
                          mode="BOTH")
    out = str(tmp_path / "bench_tsv")
    to_tsv_lines(bench).coalesce(1).write.mode("overwrite").text(out)
    runs = read_bench_tsv(spark, out)
    s = {r["mode"]: r for r in corpus_summary(runs).collect()}
    assert s["LABEL"]["n_docs"] == len(SPEC)
    assert s["LEAN"]["n_docs"] == len(SPEC)
    assert s["LABEL"]["n_errors"] == 0


def test_budget_exceeded_row(spark):
    bench = run_benchmark(spark, synthetic_corpus(spark, [("clique", 6)]),
                          mode="LEAN", lean_budget=3).collect()
    assert len(bench) == 1
    assert bench[0]["runtime_ms"] < 0   # reference timeout convention

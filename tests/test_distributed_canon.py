"""Distributed canonicalizer parity: DataFrame fixpoint vs local oracle.

The local oracle (canon.local) is itself golden-tested against the
reference's BlabelTest labels, so label-set equality here proves the
distributed loop end-to-end: connected components, message join,
sorted-fold aggregation, kernel fallback for automorphic components,
dip/upg muxing, SK00 rendering.
"""

import random

import pytest

from blabel_spark.canon.local import label_graph
from tests.test_local_canon import (
    FIXTURES,
    GOLD_BNODE_OUTPUT,
    GOLD_INPUT,
    shuffle_and_rename,
)


def run_distributed(spark, graphs: dict, **kw):
    """graphs: name → triple list.  Returns {name: set of labelled triples}.
    Defaults to route="fixpoint": these tests exercise the distributed
    loop; auto-routing is covered by test_auto_route_matches_fixpoint."""
    from blabel_spark.canon.distributed import canonicalize
    kw.setdefault("route", "fixpoint")
    rows = [(g, s, p, o) for g, trips in graphs.items() for s, p, o in trips]
    df = spark.createDataFrame(rows, "graph_id string, subj string, "
                                     "pred string, obj string")
    res = canonicalize(spark, df, **kw)
    out: dict[str, set] = {g: set() for g in graphs}
    for r in res.labelled.collect():
        out[r.graph_id].add((r.subj, r.pred, r.obj))
    return out


def random_graph(seed: int, n_bnodes: int = 8, n_ground: int = 4,
                 n_edges: int = 14):
    rng = random.Random(seed)
    bnodes = [f"_:b{i}" for i in range(n_bnodes)]
    iris = [f"<iri{i}>" for i in range(5)]
    preds = [f"<p{i}>" for i in range(3)]
    trips = []
    for _ in range(n_edges):
        s = rng.choice(bnodes + iris)
        o = rng.choice(bnodes + iris + ['"lit1"', '"lit2"@en'])
        if not (s.startswith("_:") or o.startswith("_:")):
            s = rng.choice(bnodes)
        trips.append((s, rng.choice(preds), o))
    for i in range(n_ground):
        trips.append((rng.choice(iris), rng.choice(preds), rng.choice(iris)))
    return trips


def test_golden_distributed(spark):
    out = run_distributed(spark, {"g0": GOLD_INPUT})
    assert out["g0"] == GOLD_BNODE_OUTPUT


def test_fixtures_match_oracle(spark):
    graphs = dict(FIXTURES)
    out = run_distributed(spark, graphs)
    for name, trips in graphs.items():
        assert out[name] == set(label_graph(trips).graph), name


def test_random_graphs_match_oracle(spark):
    graphs = {f"r{s}": random_graph(s) for s in range(12)}
    out = run_distributed(spark, graphs)
    for name, trips in graphs.items():
        assert out[name] == set(label_graph(trips).graph), name


def test_metamorphic_distributed(spark):
    """Renamed/shuffled variants of the same graph in one corpus must land
    on identical canonical triple sets."""
    graphs = {f"v{s}": shuffle_and_rename(FIXTURES["grid-3x3"], s)
              for s in range(3)}
    out = run_distributed(spark, graphs)
    base = out["v0"]
    assert all(out[g] == base for g in graphs)


def test_dip_upg_flags_distributed(spark):
    trips = [("_:a", "<p>", "_:b"), ("_:c", "<p>", "_:d")]
    for dip in (True, False):
        for upg in (True, False):
            out = run_distributed(spark, {"g": trips}, dip=dip, upg=upg)
            oracle = set(label_graph(trips, dip=dip, upg=upg).graph)
            assert out["g"] == oracle, (dip, upg)


def test_hub_star_matches_oracle(spark):
    """Star graph: one hub bnode's messages fold as one long segment."""
    hub = [("_:hub", "<p>", f"_:s{i}") for i in range(40)]
    hub += [(f"<iri{i % 7}>", "<q>", "_:hub") for i in range(20)]
    out = run_distributed(spark, {"g": hub})
    assert out["g"] == set(label_graph(hub).graph)


def test_mixed_corpus_single_pass(spark):
    """Whole fixture menu + randoms in ONE canonicalize() call — exercises
    simultaneous multi-graph refinement with heterogeneous iteration
    counts and kernel routing."""
    graphs = dict(FIXTURES)
    graphs.update({f"r{s}": random_graph(s, 6, 2, 10) for s in range(6)})
    out = run_distributed(spark, graphs)
    for name, trips in graphs.items():
        assert out[name] == set(label_graph(trips).graph), name


def test_long_chain_components_and_labels(spark):
    """Deep-diameter regression: a 120-bnode chain must land in ONE
    component (pointer-doubling CC, O(log d) rounds — a plain 50-round
    propagation cap would split it) and canonicalize identically to the
    local oracle."""
    from blabel_spark.canon.distributed import bnode_components
    chain = [(f"_:n{i:03d}", "<next>", f"_:n{i + 1:03d}") for i in range(119)]
    rows = [("g", s, p, o) for s, p, o in chain]
    df = spark.createDataFrame(rows, "graph_id string, subj string, "
                                     "pred string, obj string")
    comps = bnode_components(df).select("comp").distinct().collect()
    assert len(comps) == 1, f"chain split into {len(comps)} components"
    out = run_distributed(spark, {"g": chain})
    assert out["g"] == set(label_graph(chain).graph)


def test_parallelism_invariance_subprocess():
    """FIXTURES §4: identical canonical output across parallelism levels.
    Two separate JVMs (local[2] vs local[5]) canonicalize the same corpus;
    the sorted-output hashes must match bit-for-bit."""
    import subprocess
    import sys

    script = r"""
import hashlib, sys
sys.path.insert(0, "/root/repo")
from blabel_spark.spark_util import get_spark
from blabel_spark.canon.distributed import canonicalize
from tests.test_local_canon import FIXTURES
spark = get_spark("par-inv", cpus=int(sys.argv[1]), shuffle_partitions=7)
rows = [(g, s, p, o) for g, trips in sorted(FIXTURES.items())
        for s, p, o in trips]
df = spark.createDataFrame(rows, "graph_id string, subj string, "
                                 "pred string, obj string")
out = sorted(map(tuple,
             canonicalize(spark, df, route="fixpoint").labelled.collect()))
print("HASH:" + hashlib.md5(str(out).encode()).hexdigest())
"""
    hashes = []
    for cpus in (2, 5):
        r = subprocess.run([sys.executable, "-c", script, str(cpus)],
                           capture_output=True, text=True, timeout=600,
                           cwd="/root/repo")
        lines = [l for l in r.stdout.splitlines() if l.startswith("HASH:")]
        assert lines, r.stderr[-800:]
        hashes.append(lines[0])
    assert hashes[0] == hashes[1]


def test_fixpoint_hub_beside_small_bnodes(spark):
    """Skew: a 1.3e5-message hub bnode beside 10k small bnodes in ONE
    graph — the hub folds across many Arrow batches in the same task as
    the small segments, and the labels must match the local oracle
    bit-exactly."""
    from blabel_spark.canon.distributed import canonicalize
    n = 131_200
    rows = [("g", "_:hub", "<p>", f"<o{i}>") for i in range(n)]
    rows += [("g", "_:hub", "<q>", "_:tail"), ("g", "_:tail", "<q>", "<z>")]
    for i in range(10_000):
        rows += [("g", f"_:s{i}", "<r>", f'"v{i}"'),
                 ("g", f"_:s{i}", "<q>", "<z>")]
    df = spark.createDataFrame(rows, "graph_id string, subj string, "
                                     "pred string, obj string")
    res = canonicalize(spark, df, route="fixpoint")
    # one fold path: no salting decision or knob left in the metrics
    assert not [k for k in res.metrics if k.startswith("salt")]
    out = {(r.subj, r.pred, r.obj) for r in res.labelled.collect()}
    trips = [(s, p, o) for _, s, p, o in rows]
    assert out == set(label_graph(trips).graph)


def test_cc_kernel_and_iterative_paths_agree(spark, monkeypatch):
    """Component routing: the per-graph union-find kernel and the
    iterative pointer-doubling loop must produce identical partitions."""
    from blabel_spark import components
    from blabel_spark.canon.distributed import bnode_components
    graphs = {f"r{s}": random_graph(s) for s in range(6)}
    graphs["chain"] = [(f"_:n{i:02d}", "<p>", f"_:n{i + 1:02d}")
                      for i in range(70)]
    rows = [(g, s, p, o) for g, trips in graphs.items() for s, p, o in trips]
    df = spark.createDataFrame(rows, "graph_id string, subj string, "
                                     "pred string, obj string")
    a = sorted(map(tuple, bnode_components(df).collect()))
    monkeypatch.setattr(components, "KERNEL_ROWS", 0)
    b = sorted(map(tuple, bnode_components(df).collect()))
    assert a == b


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()))


def test_auto_route_matches_fixpoint(spark):
    """Size-based routing: a small-graph corpus goes through the
    per-graph kernel (reference per-document regime) and must be
    bit-identical to the distributed fixpoint.  A tiny threshold sends
    the graphs to component routing: components with at most 2 rows
    (the duplicate pair of iso-partitions among them) go straight to the
    component kernel, the rest loop (the automorphic ones then stall
    into the same kernel), again bit-identical."""
    from blabel_spark.canon.distributed import canonicalize
    graphs = dict(FIXTURES)
    rows = [(g, s, p, o) for g, trips in graphs.items()
            for s, p, o in trips]
    df = spark.createDataFrame(rows, "graph_id string, subj string, "
                                     "pred string, obj string")
    auto = canonicalize(spark, df)
    assert auto.metrics.get("mode") == "by_graph", auto.metrics
    fix = canonicalize(spark, df, route="fixpoint")
    m = fix.metrics
    assert m["n_kernel_components"] == 0, m
    assert m["n_loop_components"] == m["n_components"] > 0, m
    want_labelled, want_labels = (_sorted_rows(fix.labelled),
                                  _sorted_rows(fix.labels))
    assert _sorted_rows(auto.labelled) == want_labelled
    assert _sorted_rows(auto.labels) == want_labels
    small = canonicalize(spark, df, kernel_graph_rows=2)
    m = small.metrics
    assert "mode" not in m
    assert m["n_kernel_components"] > 0 and m["n_loop_components"] > 0, m
    assert m["n_kernel_components"] + m["n_loop_components"] \
        == m["n_components"]
    assert _sorted_rows(small.labelled) == want_labelled
    assert _sorted_rows(small.labels) == want_labels


def _giant_graph(spark, n_chains: int = 6):
    """ONE graph of many small components and a few deep ones: the
    sf0.001 derived triples (bnodes scoped by their source graph, so its
    components keep at most 17 rows) plus ``n_chains`` 26-row bnode
    chains, all under graph_id "giant"."""
    from pyspark.sql import functions as F

    from blabel_spark.canon.distributed import is_bnode_col
    from blabel_spark.ops.triples_view import build_triples
    from blabel_spark.synthetic import chain

    def scoped(c):
        return F.when(is_bnode_col(c), F.concat(
            F.lit("_:"), F.col("graph_id"), F.lit("."),
            F.expr(f"substring({c}, 3)"))).otherwise(F.col(c)).alias(c)
    sf = build_triples(spark, "/root/testdata/sf0.001") \
        .select(F.lit("giant").alias("graph_id"), scoped("subj"), "pred",
                scoped("obj"))
    chains = spark.createDataFrame(
        [("giant", s, p, o) for i in range(n_chains)
         for s, p, o in chain(26, tag=f"c{i}_")],
        "graph_id string, subj string, pred string, obj string")
    return sf.union(chains).localCheckpoint(True)


def test_giant_graph_component_routing(spark):
    """One giant graph of task-sized components plus a few deep chains:
    with the threshold between them, exactly the chains enter the loop
    and everything else goes straight to the component kernel.  Labels
    and labelled triples are bit-exact against the per-graph kernel and
    the loop-everything fixpoint."""
    from blabel_spark.canon.distributed import canonicalize
    n_chains = 6
    df = _giant_graph(spark, n_chains)
    res = canonicalize(spark, df, kernel_graph_rows=20)
    m = res.metrics
    assert "mode" not in m
    assert m["n_loop_components"] == n_chains, m
    assert m["n_kernel_components"] == m["n_components"] - n_chains > 0, m
    first = m["iterations_log"][0]
    assert sum(first.get(f"n_{k}", 0) for k in
               ("active", "discrete", "stalled")) == n_chains, first
    got = (_sorted_rows(res.labelled), _sorted_rows(res.labels))
    for route in ("by_graph", "fixpoint"):
        ref = canonicalize(spark, df, route=route)
        assert got == (_sorted_rows(ref.labelled),
                       _sorted_rows(ref.labels)), route


def test_by_graph_pathological_graph_reported_not_fatal(spark, monkeypatch):
    """A graph whose branch-and-bound exceeds its leaf budget must not
    sink the corpus job: its triples pass through unlabelled, the failure
    is reported in metrics, and healthy graphs still label (the
    reference's per-document timeout behaviour)."""
    from blabel_spark.canon import local
    from blabel_spark.canon.distributed import canonicalize_by_graph
    rows = [("bad", s, p, o) for s, p, o in FIXTURES["grid-3x3"]]
    rows += [("ok", "_:a", "<p>", "<u>")]
    df = spark.createDataFrame(rows, "graph_id string, subj string, "
                                     "pred string, obj string")
    monkeypatch.setattr(local, "MAX_LEAVES", 1)
    res = canonicalize_by_graph(spark, df)
    m = res.metrics
    assert m["failed_graphs"] == 1
    assert m["failed_sample"][0][0] == "bad"
    # bad graph passed through unlabelled; ok graph labelled
    bad = {r.subj for r in res.labelled.where("graph_id='bad'").collect()}
    assert any(s.startswith("_:g") for s in bad)
    ok = {r.subj for r in res.labelled.where("graph_id='ok'").collect()}
    assert all(s.startswith("_:SK00") for s in ok)


def test_empty_and_ground_only_inputs(spark):
    """Degenerate corpora must not crash either route: empty input gives
    empty outputs; an all-ground corpus passes through with no labels."""
    from blabel_spark.canon.distributed import canonicalize
    empty = spark.createDataFrame([], "graph_id string, subj string, "
                                      "pred string, obj string")
    for route in ("auto", "fixpoint"):
        res = canonicalize(spark, empty, route=route)
        assert res.labelled.count() == 0, route
        assert res.labels.count() == 0, route
    ground = spark.createDataFrame(
        [("g", "<a>", "<p>", "<b>"), ("g", "<a>", "<p>", "<b>"),
         ("h", "<c>", "<q>", '"lit"')],
        "graph_id string, subj string, pred string, obj string")
    for route in ("auto", "fixpoint"):
        res = canonicalize(spark, ground, route=route)
        out = sorted(map(tuple, res.labelled.collect()))
        assert out == [("g", "<a>", "<p>", "<b>"),
                       ("h", "<c>", "<q>", '"lit"')], route
        assert res.labels.count() == 0, route


def test_fixpoint_all_shuffle_fallback_parity(spark, monkeypatch):
    """BROADCAST_ROWS=0 forces every dimension join onto the shuffle
    fallback (the 10^12-scale path where no table fits executor
    memory); labels must be bit-identical to the broadcast plan."""
    from blabel_spark.canon import distributed
    from blabel_spark.canon.distributed import canonicalize
    from blabel_spark.ops.triples_view import build_triples
    t = build_triples(spark, "/root/testdata/sf0.001").localCheckpoint(True)
    a = canonicalize(spark, t, route="fixpoint")
    monkeypatch.setattr(distributed, "BROADCAST_ROWS", 0)
    b = canonicalize(spark, t, route="fixpoint")
    assert sorted(map(tuple, a.labels.collect())) == \
        sorted(map(tuple, b.labels.collect()))
    assert sorted(map(tuple, a.labelled.collect())) == \
        sorted(map(tuple, b.labelled.collect()))


@pytest.mark.parametrize("route", ["fixpiont", "by-graph", "AUTO", ""])
def test_unknown_route_rejected(spark, route):
    """A misspelt route raises instead of silently running the fixpoint."""
    from blabel_spark.canon.distributed import canonicalize
    df = spark.createDataFrame([("g", "_:a", "<p>", "<o>")],
                               "graph_id string, subj string, "
                               "pred string, obj string")
    with pytest.raises(ValueError, match="route"):
        canonicalize(spark, df, route=route)


def test_fixpoint_over_budget_components_finish_in_kernel(spark,
                                                          monkeypatch):
    """Components still active after MAX_ITERATIONS rounds are finished
    by the kernel: a 12-edge chain needs about six rounds, so with a
    budget of two every chain runs over, and the labels stay bit-exact
    with the local oracle."""
    from blabel_spark.canon import distributed
    from blabel_spark.synthetic import chain
    monkeypatch.setattr(distributed, "MAX_ITERATIONS", 2)
    graphs = {f"g{j}": chain(12) for j in range(3)}
    rows = [(g, s, p, o) for g, trips in graphs.items() for s, p, o in trips]
    df = spark.createDataFrame(rows, "graph_id string, subj string, "
                                     "pred string, obj string")
    res = distributed.canonicalize(spark, df, route="fixpoint")
    assert res.metrics["colour_iterations"] == 2
    assert res.metrics["over_budget_comps"] == 3
    got: dict[str, set] = {g: set() for g in graphs}
    for r in res.labelled.collect():
        got[r.graph_id].add((r.subj, r.pred, r.obj))
    for g, trips in graphs.items():
        assert got[g] == set(label_graph(trips).graph), g

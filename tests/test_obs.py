"""Phase records: every Spark job ``canonicalize`` fires belongs to one
top-level ``obs.phase``, and phases leave the caller's job group, job
description and job tags as they found them."""

import pathlib

import pytest

from blabel_spark import obs
from tests.test_fixpoint_regression import _chain_corpus
from tests.test_local_canon import FIXTURES

PKG = pathlib.Path(obs.__file__).parent


def test_job_group_and_marked_ancestors_only_in_obs():
    sources = {str(p.relative_to(PKG)): p.read_text()
               for p in PKG.rglob("*.py")}
    assert [f for f, t in sources.items() if "setJobGroup(" in t] == []
    assert [f for f, t in sources.items()
            if "checkpointAllMarkedAncestors" in t] == ["obs.py"]


def test_phase_checkpoints_every_marked_ancestor(spark):
    """One action materializes both of two stacked lazy checkpoints only
    inside a phase (the marked-ancestors property); on exit the caller's
    value of the property is back."""
    from blabel_spark.ckpt_util import ckpt_rdd
    sc = spark.sparkContext

    def inner_checkpointed():
        inner = spark.range(50).localCheckpoint(eager=False)
        outer = inner.selectExpr("id + 1 AS id").localCheckpoint(eager=False)
        assert len(outer.collect()) == 50
        return ckpt_rdd(inner).isCheckpointed()
    before = sc.getLocalProperty(obs.ALL_MARKED)
    assert not inner_checkpointed()
    with obs.phase("stacked") as rec:
        assert inner_checkpointed()
    assert sc.getLocalProperty(obs.ALL_MARKED) == before
    assert rec["n_jobs"] >= 1


def _fixtures_df(spark):
    rows = [(g, s, p, o) for g, trips in FIXTURES.items()
            for s, p, o in trips]
    return spark.createDataFrame(
        rows, "graph_id string, subj string, pred string, obj string")


@pytest.mark.parametrize("case", ["by_graph", "components", "fixpoint"])
def test_phases_own_every_job(spark, case):
    """An outer job tag around the call counts exactly the jobs of the
    top-level phases; the nested round phases add none of their own."""
    from blabel_spark.canon.distributed import canonicalize
    kw, tri = {
        "by_graph": ({}, _fixtures_df(spark)),
        "components": ({"kernel_graph_rows": 2}, _fixtures_df(spark)),
        "fixpoint": ({"route": "fixpoint"}, _chain_corpus(spark)),
    }[case]
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    outer = f"test-obs-{case}"
    group = sc.getLocalProperty("spark.jobGroup.id")
    sc.addJobTag(outer)
    try:
        res = canonicalize(spark, tri, **kw)
        assert set(sc.getJobTags()) == {outer}
    finally:
        sc.removeJobTag(outer)
    assert sc.getLocalProperty("spark.jobGroup.id") == group
    jsc.listenerBus().waitUntilEmpty(30_000)
    n_outer = len(jsc.statusTracker().getJobIdsForTag(outer))
    m = res.metrics
    phases = m["phases"]
    assert list(phases) == {
        "by_graph": ["prep", "by_graph"],
        "components": ["prep", "loop", "leaf_kernel", "comp_mux", "mux"],
        "fixpoint": ["prep", "loop", "leaf_kernel", "comp_mux", "mux"],
    }[case], m
    assert n_outer == sum(p["n_jobs"] for p in phases.values()) > 0, phases
    for name, rec in phases.items():
        assert m[f"t_{name}_s"] == rec[f"t_{name}_s"] >= 0
    rounds = m.get("iterations_log", [])
    if case != "by_graph":
        assert rounds and [r["iteration"] for r in rounds] == \
            list(range(1, len(rounds) + 1))
        assert sum(r["n_jobs"] for r in rounds) <= phases["loop"]["n_jobs"]
    assert m.get("mode") == ("by_graph" if case == "by_graph" else None)

"""Checkpoint/resume + lineage metrics tests (north_rule requirements)."""

import pytest

from blabel_spark.canon import distributed
from blabel_spark.canon.local import label_graph


def chain(n, tag=""):
    """Path graph: needs ~n/2 refinement rounds (colour information
    propagates inward from the endpoints), so checkpoints land mid-run."""
    return [(f"_:{tag}x{i}", "<p>", f"_:{tag}x{i + 1}") for i in range(n)]


@pytest.fixture()
def corpus():
    return {f"g{j}": chain(12, f"t{j}") + [(f"<a{j}>", "<q>", f"_:t{j}x0")]
            for j in range(4)}


def _run(spark, corpus, **kw):
    from blabel_spark.canon.distributed import canonicalize
    rows = [(g, s, p, o) for g, trips in corpus.items() for s, p, o in trips]
    df = spark.createDataFrame(rows, "graph_id string, subj string, "
                                     "pred string, obj string")
    res = canonicalize(spark, df, **kw)
    out = {}
    for r in res.labelled.collect():
        out.setdefault(r.graph_id, set()).add((r.subj, r.pred, r.obj))
    return out, res.metrics


def test_checkpointed_run_matches_fresh(spark, corpus, tmp_path,
                                        monkeypatch):
    # route="fixpoint": this test compares a fresh fixpoint run with a
    # checkpointed one (auto-routing would pick the per-graph kernel on
    # this small corpus and record no iterations)
    base, m0 = _run(spark, corpus, route="fixpoint")
    assert m0["colour_iterations"] >= 5  # checkpoints actually fire
    monkeypatch.setattr(distributed, "CHECKPOINT_EVERY", 2)
    ck, m1 = _run(spark, corpus, checkpoint_dir=str(tmp_path / "ck"))
    assert ck == base
    # oracle agreement too
    for g, trips in corpus.items():
        assert ck[g] == set(label_graph(trips).graph)


def test_resume_from_checkpoint(spark, corpus, tmp_path, monkeypatch):
    ckdir = str(tmp_path / "ck2")
    monkeypatch.setattr(distributed, "CHECKPOINT_EVERY", 2)
    base, _ = _run(spark, corpus, checkpoint_dir=ckdir)
    # second invocation finds the last commit and replays only the tail
    resumed, m = _run(spark, corpus, checkpoint_dir=ckdir)
    assert m.get("resumed_from_iteration", 0) >= 2
    assert resumed == base


def test_lineage_metrics_and_materialize(spark, corpus, tmp_path):
    from blabel_spark.canon.distributed import canonicalize
    from blabel_spark.sources.io import materialize_kg
    rows = [(g, s, p, o) for g, trips in corpus.items() for s, p, o in trips]
    df = spark.createDataFrame(rows, "graph_id string, subj string, "
                                     "pred string, obj string")
    res = canonicalize(spark, df)
    out_dir = str(tmp_path / "kg")
    run_id = materialize_kg(
        spark, res.labelled, df, out_dir,
        {"iterations": res.metrics.get("colour_iterations", 0)})
    written = spark.read.parquet(f"{out_dir}/triples")
    assert written.count() == res.labelled.count()
    m = spark.read.parquet(f"{out_dir}/metrics")
    rows = {r.graph_id: r for r in m.collect()}
    assert set(rows) == set(corpus)
    for g, trips in corpus.items():
        assert rows[g].n_in == len(trips)
        assert rows[g].n_out == len(trips)  # chains have no dup collapse
        assert rows[g].run_id == run_id


def test_snapshot_manifest(spark, corpus, tmp_path):
    """materialize_kg commits an atomic snapshot manifest LAST — readers
    trust only manifest-referenced tables (Iceberg-pointer semantics on
    the parquet fallback), and repeated commits append."""
    from blabel_spark.canon.distributed import canonicalize
    from blabel_spark.sources.io import latest_snapshot, materialize_kg
    rows = [(g, s, p, o) for g, trips in corpus.items() for s, p, o in trips]
    df = spark.createDataFrame(rows, "graph_id string, subj string, "
                                     "pred string, obj string")
    res = canonicalize(spark, df)
    out_dir = str(tmp_path / "kg2")
    assert latest_snapshot(out_dir) is None
    rid1 = materialize_kg(spark, res.labelled, df, out_dir)
    snap = latest_snapshot(out_dir)
    assert snap["run_id"] == rid1
    assert snap["n_rows"] == res.labelled.count()
    assert spark.read.parquet(snap["tables"]["triples"]).count() \
        == snap["n_rows"]
    rid2 = materialize_kg(spark, res.labelled, df, out_dir)
    import json
    snaps = json.load(open(f"{out_dir}/_snapshots.json"))
    assert [s["run_id"] for s in snaps] == [rid1, rid2]


def test_materialize_reads_nothing_back(spark, corpus, tmp_path,
                                        monkeypatch):
    """The snapshot's n_rows is observed by the triple write itself:
    committing reads no table back."""
    from pyspark.sql.readwriter import DataFrameReader

    from blabel_spark.canon.distributed import canonicalize
    from blabel_spark.sources.io import latest_snapshot, materialize_kg
    rows = [(g, s, p, o) for g, trips in corpus.items() for s, p, o in trips]
    df = spark.createDataFrame(rows, "graph_id string, subj string, "
                                     "pred string, obj string")
    labelled = canonicalize(spark, df).labelled
    n = labelled.count()
    out_dir = str(tmp_path / "kg3")

    def no_read(self, *args, **kwargs):
        raise AssertionError("materialize_kg read a table back")
    with monkeypatch.context() as mp:
        mp.setattr(DataFrameReader, "parquet", no_read)
        materialize_kg(spark, labelled, df, out_dir)
    assert latest_snapshot(out_dir)["n_rows"] == n
    assert spark.read.parquet(f"{out_dir}/triples").count() == n


def test_lineage_metrics_zero_fills_both_sides(spark):
    """A graph with input rows but no output rows gets ``n_out == 0``,
    and one with output but no input ``n_in == 0``."""
    from blabel_spark.sources.io import lineage_metrics
    schema = "graph_id string, subj string, pred string, obj string"
    tin = spark.createDataFrame(
        [("g1", "<a>", "<p>", "<b>"), ("g1", "<a>", "<p>", "<c>"),
         ("g2", "<a>", "<p>", "<b>")], schema)
    out = spark.createDataFrame(
        [("g1", "<a>", "<p>", "<b>"), ("g3", "<a>", "<p>", "<b>")], schema)
    m = lineage_metrics(out, tin, "r1")
    got = {r.graph_id: (r.n_in, r.n_out, r.run_id) for r in m.collect()}
    assert got == {"g1": (2, 1, "r1"), "g2": (1, 0, "r1"),
                   "g3": (0, 1, "r1")}
    assert dict(m.dtypes)["n_in"] == dict(m.dtypes)["n_out"] == "bigint"

"""Regression tests for the lazy-checkpoint bug class (found round 4).

With two stacked LAZY localCheckpoints per round (colours under the
convergence table), ``RDD.doCheckpoint`` recursion stops at the first
checkpoint-marked RDD unless ``spark.checkpoint.checkpointAllMarkedAncestors``
is set — the inner colour table never truncates and per-round plans DOUBLE
(the event-log signature: job stage counts growing ~3/round, "Broadcasting
large task binary" warnings).  These tests pin

(a) that the lazy path keeps per-round job/stage counts FLAT across
    rounds, and
(b) that a session whose conf lacks the key (one not built by
    ``get_spark``) gets the same labels and the same per-round plans: the
    loop's phases set the key as a thread-local property (``obs.phase``).

Reference anchor: the one-pass-per-round colouring loop,
GraphColouring.java:463-666.
"""

from __future__ import annotations


def _chain_corpus(spark, n_chains: int = 40, length: int = 12,
                  graph_id: str | None = None):
    """Directed bnode chains force ~length/2 refinement rounds with every
    component staying active until the simultaneous final round — rounds
    2..N-1 are structurally identical, so any plan growth is the bug.
    One graph per chain, or all chains in ``graph_id``."""
    from blabel_spark.synthetic import chain
    rows = []
    for i in range(n_chains):
        rows.extend((graph_id or f"c{i}", s, p, o)
                    for s, p, o in chain(length, tag=f"c{i}_"))
    return spark.createDataFrame(
        rows, "graph_id string, subj string, pred string, obj string"
    ).localCheckpoint(True)


def _assert_flat(log):
    """Rounds 2..N-1 must have identical (n_jobs, n_stages): round 1 has
    no active-semi-join yet and the final round folds resolved
    components, but any growth in the middle is lineage leaking through
    the lazy checkpoints."""
    mids = log[1:-1]
    assert len(mids) >= 2, f"corpus too shallow for the check: {log}"
    shapes = {(e["n_jobs"], e["n_stages"]) for e in mids}
    assert len(shapes) == 1, (
        f"per-round plan size must stay constant, got {shapes}: {log}")


def test_lazy_path_flat_plans(spark):
    from blabel_spark.canon import distributed as D
    res = D.canonicalize(spark, _chain_corpus(spark), route="fixpoint")
    assert res.metrics["colour_iterations"] >= 5
    _assert_flat(res.metrics["iterations_log"])


def test_loop_retains_o1_checkpoints_and_unpersist(spark):
    """A long fixpoint must not accumulate O(rounds) checkpointed tables:
    superseded round state is released the moment its last consumer
    materializes, the returned result rides on a fixed handful of blocks
    (btri, node table, final labels), and ``CanonResult.unpersist``
    releases those too once the result has been consumed — the
    session-hygiene contract for long-lived sessions running many
    corpora."""
    from blabel_spark.canon import distributed as D

    def persistent_ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    before = persistent_ids()
    tri = _chain_corpus(spark)
    res = D.canonicalize(spark, tri, route="fixpoint")
    rows = res.labels.count()
    assert rows > 0
    assert res.metrics["colour_iterations"] >= 5
    ours = persistent_ids() - before
    # input checkpoint (tri) + btri + node_comp/CC + leaf_final, NOT
    # 2 tables x colour_iterations
    assert len(ours) <= 6, (
        f"fixpoint retained {len(ours)} checkpointed RDDs after "
        f"{res.metrics['colour_iterations']} rounds — loop state leaking")
    res.unpersist(blocking=True)
    left = persistent_ids() - before
    # only the test's own input checkpoint may remain
    assert len(left) <= 1, (
        f"unpersist left {len(left)} RDDs behind")
    # the result is no longer usable after unpersist — that's documented


def test_all_small_auto_route_builds_no_loop_state(spark, monkeypatch):
    """Component routing with no oversized component: one graph above the
    per-graph threshold whose chains each fit a task runs no round and
    checkpoints no loop-era table (static messages, bnode→bnode edges,
    initial colours, round state); the result rides on btri, the node
    table and the final labels only, and ``unpersist`` releases them."""
    from blabel_spark import ckpt_util
    from blabel_spark.canon import distributed as D
    made = []

    def checkpoint(df, eager=True):
        made.append(df)
        return real(df, eager)
    real = ckpt_util.checkpoint
    monkeypatch.setattr(ckpt_util, "checkpoint", checkpoint)

    def persistent_ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    before = persistent_ids()
    tri = _chain_corpus(spark, graph_id="g")
    res = D.canonicalize(spark, tri, kernel_graph_rows=100)
    m = res.metrics
    assert "mode" not in m, m
    assert (m["n_loop_components"], m["n_kernel_components"]) == (0, 40), m
    assert m["colour_iterations"] == 0 and m["iterations_log"] == []
    assert res.labels.count() == 40 * 13
    # btri, node table, leaf colours, comp mux, final labels — the leaf
    # and mux tables are released once the final labels materialize
    assert len(made) == 5, made
    ours = persistent_ids() - before
    assert len(ours) <= 4, f"retained {len(ours)} RDDs (input + 3)"
    res.unpersist(blocking=True)
    left = persistent_ids() - before
    assert len(left) <= 1, f"unpersist left {len(left)} RDDs behind"


def test_mid_loop_failure_releases_every_block(spark, monkeypatch):
    """A failure inside the fixpoint loop propagates and leaves no
    checkpoint block of the call behind: the loop-era and run scopes
    release btri, the node table, the edge tables and every round's
    state on the way out."""
    import pytest

    from blabel_spark.canon import distributed as D
    real = D._next_colors
    rounds = []

    def next_colors(*args, **kwargs):
        rounds.append(1)
        if len(rounds) == 3:
            raise RuntimeError("injected round-3 failure")
        return real(*args, **kwargs)
    monkeypatch.setattr(D, "_next_colors", next_colors)

    def persistent_ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    sc = spark.sparkContext

    def caller_state():
        return ({p: sc.getLocalProperty(p) for p in (
            "spark.jobGroup.id", "spark.job.description",
            "spark.checkpoint.checkpointAllMarkedAncestors")},
            set(sc.getJobTags()))
    # should the call leave a property set, restore the thread's
    # properties for the tests that follow
    props = {p: sc.getLocalProperty(p) for p in (
        "spark.jobGroup.id", "spark.job.description",
        "spark.job.interruptOnCancel")}
    tri = _chain_corpus(spark)
    before = persistent_ids()
    state = caller_state()
    try:
        with pytest.raises(RuntimeError, match="injected round-3"):
            D.canonicalize(spark, tri, route="fixpoint")
        assert caller_state() == state, "failed round left its scope set"
    finally:
        for p, v in props.items():
            sc.setLocalProperty(p, v)
    assert len(rounds) == 3
    left = persistent_ids() - before
    assert not left, f"failed canonicalize left {len(left)} RDDs behind"


def test_foreign_session_parity_and_flat_plans(spark):
    """With checkpointAllMarkedAncestors unset in the session conf, as in
    a session not built by ``get_spark``, the rounds stay the lazy
    one-job rounds: labels and the middle rounds' (n_jobs, n_stages)
    equal the default session's."""
    from blabel_spark.canon import distributed as D
    tri = _chain_corpus(spark)

    def run():
        res = D.canonicalize(spark, tri, route="fixpoint")
        log = res.metrics["iterations_log"]
        _assert_flat(log)
        return (sorted((r["graph_id"], r["bnode"], r["label"])
                       for r in res.labels.collect()),
                {(e["n_jobs"], e["n_stages"]) for e in log[1:-1]})
    want = run()
    key = "spark.checkpoint.checkpointAllMarkedAncestors"
    prev = spark.conf.get(key, None)
    spark.conf.unset(key)
    try:
        got = run()
    finally:
        if prev is not None:
            spark.conf.set(key, prev)
    assert got == want

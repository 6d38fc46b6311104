"""Distributed canonical labelling: the DataFrame colour-refinement fixpoint.

Re-expresses the reference's per-graph algorithm (GraphColouring.runColouring,
GraphColouring.java:463-666 + GraphLabelling.call, GraphLabelling.java:61-192)
as ONE iterative join→groupBy loop over the whole corpus at once:

* routing is per blank-node component, as the reference colours them
  (HashGraph.blankNodePartition, GraphLabelling.java:155-168): on the
  auto route a component whose bnode-touching rows fit a task goes
  straight to the branch-and-bound kernel; only oversized components
  enter the loop below (``route="fixpoint"`` loops every component);
* loop state is a single ``(graph_id, comp, bnode, h0, h1)`` table — one
  Spark job per iteration, all loop components refine simultaneously;
* every 16-byte colour travels as TWO sign-flipped int64 columns (see
  hashing.py / pair_kernels.py): primitive types end-to-end, numpy kernels
  zero-copy, and signed ordering == the algorithm's hex ordering;
* messages whose other end is ground are constant across rounds and are
  computed once; only bnode→bnode edges join the colour table per round;
* the A1 neighbourhood fold is repartition + sortWithinPartitions + one
  mapInPandas segmented-numpy fold (the previous colour is unioned in as a
  message row and sorts into place); a bnode's messages fold batch by
  batch with a carried accumulator, so per-key memory is O(Arrow batch),
  not the key's message count — hub bnodes need no special path;
* components that reach a fixpoint leave the loop (their colours freeze);
* components whose fixpoint does not discriminate every bnode (automorphic
  residue) are finished by the same kernel (``canon.local``, one
  ``groups.map_groups`` group per component) from blank colours;
* order-insensitive hash folds (whole-graph hash, upg graph hash) are
  per-byte sums mod 256, aggregated JVM-side as 16 lane sums.

``canonicalize`` runs as five ``obs.phase`` scopes, each owning the Spark
jobs it fires: ``prep`` (probe, routing, components), ``loop`` (one
nested ``round`` phase per round), ``leaf_kernel``, ``comp_mux`` and
``mux``; the per-graph route is ``prep`` plus ``by_graph``.

Scale notes (100 TB / 1000 executors): loop state and message tables
shuffle on (graph_id, comp, bnode) — high-cardinality, uniform keys; AQE
handles stragglers; per-iteration lazy ``localCheckpoint``s truncate
lineage (the phases set the marked-ancestors property, see obs.py) so
plans stay constant-size; iteration count is driven by the largest
component diameter, not corpus size.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from blabel_spark import ckpt_util, obs
from blabel_spark import components as cc
from blabel_spark.canon import local as canon_local
from blabel_spark.components import _ikey
from blabel_spark.groups import map_groups
from blabel_spark.hashing import enc_pair, get_hash_family
from blabel_spark.pair_kernels import (
    combine2_pairs_sql,
    combine3_pairs_sql,
    fold_messages,
    int_pair_exprs,
    pair_hex,
    term_pair_exprs,
    unordered_sum_pairs_sql,
)

TRIPLE_COLS = ("graph_id", "subj", "pred", "obj")
CK = ["ck0", "ck1"]   # interned component key

# Loop rounds before still-active components fall back to the kernel.
MAX_ITERATIONS = 64
# Known-size dimension tables up to this many rows (≈ 100-300 MB) broadcast.
BROADCAST_ROWS = 2_000_000
# With ``checkpoint_dir``, loop state is committed every this many rounds.
CHECKPOINT_EVERY = 5


def is_bnode_col(c):
    return F.col(c).startswith("_:")


def _mb(df: DataFrame, n_rows: int | None) -> DataFrame:
    """Conditionally broadcast a dimension table whose exact row count is
    already known from a prior action.  Checkpointed tables report no
    size stats, so without the hint AQE plans every join against them as
    a full exchange of the big side.  Above ``BROADCAST_ROWS`` rows the
    table may not fit executor memory and the plain co-partitioned
    shuffle join is the correct plan — the fallback keeps the
    10^12-triple case honest while the per-component/per-bnode tables
    (≪ triples) ride broadcast hash joins whenever they fit."""
    if n_rows is not None and n_rows <= BROADCAST_ROWS:
        return F.broadcast(df)
    return df


@dataclass
class CanonResult:
    """A canonicalization.  ``_retained`` holds the checkpoint handles the
    run's ``ckpt_util`` scope kept because labelled/labels read them
    (btri, the CC node table, the per-bnode labels; by_graph: its output
    table); an enclosing scope also holds them and releases them on exit.
    """
    labelled: DataFrame         # (graph_id, subj, pred, obj) canonical
    labels: DataFrame           # (graph_id, bnode, label)
    metrics: dict = field(default_factory=dict)
    _retained: list = field(default_factory=list, repr=False)

    def unpersist(self, blocking: bool = False) -> None:
        """Release every checkpoint block still held for this result.
        Call once ``labelled``/``labels`` have been consumed (written or
        collected) — afterwards they can no longer be recomputed.  The
        session-hygiene hook for long-lived sessions running many
        corpora outside a ``ckpt_util.scope()``: without it each finished
        canonicalize keeps corpus-scale state in the block manager until
        a driver full-GC lets the ContextCleaner collect it."""
        ckpt_util.release(self._retained, blocking)
        self._retained = []


# ---------------------------------------------------------------------------
# connected components of blank nodes (HashGraph.blankNodePartition,
# HashGraph.java:260-304): an edge projection over ``components``, whose
# component id is the minimum bnode (the reference's pivot).
# ---------------------------------------------------------------------------

def bnode_components(btri: DataFrame,
                     graph_rows_bound: int | None = None) -> DataFrame:
    """(graph_id, bnode) → comp for every bnode in btri.  A triple with
    blank ends s and o is the edge (s, o); one with a single blank end b
    registers b as (b, b).  ``graph_rows_bound``: a caller-known upper
    bound on per-graph rows (canonicalize's probe computes one); it
    routes only when it fits the kernel, else ``components`` measures
    the edges."""
    if graph_rows_bound is not None and graph_rows_bound > cc.KERNEL_ROWS:
        graph_rows_bound = None
    bs, bo = is_bnode_col("subj"), is_bnode_col("obj")
    edges = btri.where(bs | bo).select(
        "graph_id",
        F.when(bs, F.col("subj")).otherwise(F.col("obj")).alias("a"),
        F.when(bo, F.col("obj")).otherwise(F.col("subj")).alias("b"))
    return cc.components(edges, ["graph_id"], graph_rows_bound) \
        .withColumnRenamed("node", "bnode")


# ---------------------------------------------------------------------------
# preparation
# ---------------------------------------------------------------------------

def _prep(triples, metrics, hash_name, route, kernel_graph_rows,
          checkpoint_dir):
    """The prep phase: None on the per-graph kernel route, else (btri,
    ground, node_comp, loop_comps, kernel_parts) — ``loop_comps`` keys
    the components that enter the loop (None: all), ``kernel_parts``
    holds the bnode triples the leaf kernel colours directly.

    btri columns beyond the triple: comp, (ck0, ck1) interned component
    key, (p0, p1) pred hash, (ss0, ss1)/(os0, os1) static term hashes when
    subj/obj is ground (null otherwise), (ks0, ks1)/(ko0, ko1) interned
    bnode keys when subj/obj is blank (null otherwise)."""
    # F2 hash-family selection (-s, LabelRDFGraph.java:150-161): any
    # 16-byte family rides the int64-pair engine; wider families (sha1/
    # sha256/sha512) go through the per-graph kernel path instead
    if get_hash_family(hash_name).n_bytes != 16:
        return None
    # ONE probe pass serves P6 validation (bnode predicates fail loudly,
    # as in the local oracle) and the routing decision
    probe = (triples.groupBy("graph_id")
             .agg(F.count("*").alias("n"),
                  F.max(F.when(is_bnode_col("pred"), 1).otherwise(0))
                  .alias("badp"))
             .agg(F.max("n").alias("maxn"), F.max("badp").alias("badp"))
             .collect()[0])
    if probe["badp"]:
        raise ValueError("blank node in predicate position")
    biggest = probe["maxn"] or 0
    metrics["max_graph_rows"] = int(biggest)
    if route == "by_graph" or (
            route == "auto" and checkpoint_dir is None
            and biggest <= kernel_graph_rows):
        return None
    has_b = is_bnode_col("subj") | is_bnode_col("obj")
    ground = triples.where(~has_b)
    btri = triples.where(has_b)
    # the bnode→comp table has one row per blank node (≪ triples): its
    # row count, observed by the checkpoint's job, is the n_bnodes metric
    # AND the broadcast decision for the decoration join below, which
    # otherwise exchanges the whole btri set
    node_comp, n_bnodes = ckpt_util.counted(
        bnode_components(btri, graph_rows_bound=biggest))
    metrics["n_bnodes"] = n_bnodes
    tp = term_pair_exprs(hash_name)
    p0, p1 = tp(F.col("pred"))
    s0, s1 = tp(F.col("subj"))
    o0, o1 = tp(F.col("obj"))
    c0, c1 = _ikey("graph_id", "comp")
    k_s0, k_s1 = _ikey("graph_id", "subj")
    k_o0, k_o1 = _ikey("graph_id", "obj")
    # parallelism reset BEFORE the ten hash projections: the parquet scan
    # yields few input partitions at small SF (6 at sf0.1), and since the
    # comp decoration is a broadcast join nothing downstream would ever
    # re-exchange — every tail scan of the checkpointed btri (edge build,
    # per-triple hashes, relabel) would run at scan parallelism.  One
    # round-robin exchange of the raw strings here buys core-count
    # parallelism for the hash computation and every later btri pass.
    # Gated (ADVICE r4): skip when the comp join will NOT broadcast (its
    # shuffle re-exchanges btri on the join key anyway) or when the input
    # already has full parallelism — both would make this a wasted full
    # exchange of the raw triple strings at triple scale.  (Keying this
    # exchange on (ck0, ck1) instead was tried and is USELESS: localCheckpoint
    # under AQE captures UnknownPartitioning, so downstream aggregations
    # cannot see the co-partitioning — the mux tail repartitions itself.)
    parts = int(btri.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    comp_broadcasts = n_bnodes <= BROADCAST_ROWS
    if comp_broadcasts and btri.rdd.getNumPartitions() < parts:
        btri = btri.repartition(parts)
    # decoration join on the INTERNED anchor key, not the (graph_id,
    # anchor-string) pair: in the non-broadcast regime this join exchanges
    # and compares the full btri set, and hashing/sorting two fixed-width
    # longs is far cheaper than N3 strings (sf1 measured the string-keyed
    # variant as the single largest prep job).  The anchor of a row is its
    # subject when blank, else its (then necessarily blank) object, so the
    # key reuses the k_s/k_o interning exprs computed for btri anyway.
    ca0, ca1 = _ikey("graph_id", "bnode")
    comp_keyed = node_comp.select(ca0.alias("_a0"), ca1.alias("_a1"), "comp")
    ak0 = F.when(is_bnode_col("subj"), k_s0).otherwise(k_o0)
    ak1 = F.when(is_bnode_col("subj"), k_s1).otherwise(k_o1)
    btri = ckpt_util.checkpoint(
        btri.withColumn("_a0", ak0).withColumn("_a1", ak1)
        .join(_mb(comp_keyed, n_bnodes), ["_a0", "_a1"])
        .drop("_a0", "_a1")
        .withColumn("ck0", c0).withColumn("ck1", c1)
        .withColumn("p0", p0).withColumn("p1", p1)
        .withColumn("ss0", F.when(~is_bnode_col("subj"), s0))
        .withColumn("ss1", F.when(~is_bnode_col("subj"), s1))
        .withColumn("os0", F.when(~is_bnode_col("obj"), o0))
        .withColumn("os1", F.when(~is_bnode_col("obj"), o1))
        .withColumn("ks0", F.when(is_bnode_col("subj"), k_s0))
        .withColumn("ks1", F.when(is_bnode_col("subj"), k_s1))
        .withColumn("ko0", F.when(is_bnode_col("obj"), k_o0))
        .withColumn("ko1", F.when(is_bnode_col("obj"), k_o1))
    )
    # component-granular routing: the reference colours every blank-node
    # component on its own (HashGraph.blankNodePartition,
    # GraphLabelling.java:155-168), so on route="auto" a component whose
    # bnode-touching rows fit a task (the per-graph rule's ≤) goes straight
    # to the leaf kernel and only oversized ones pay the per-round loop.
    # route="fixpoint" and resumable runs loop every component (limit 0:
    # each component has ≥ 1 row).  ONE size aggregation yields the
    # bnode-triple count, the component count and the oversized count.
    comp_rows = btri.groupBy(*CK).agg(F.count("*").alias("n"))
    limit = (kernel_graph_rows if route == "auto" and checkpoint_dir is None
             else 0)
    big = F.col("n") > limit
    sizes = comp_rows.agg(F.sum("n").alias("rows"),
                          F.count("*").alias("comps"),
                          F.count(F.when(big, 1)).alias("big")).collect()[0]
    metrics["bnode_triples"] = int(sizes["rows"] or 0)
    n_comps = metrics["n_components"] = int(sizes["comps"])
    n_loop = metrics["n_loop_components"] = int(sizes["big"])
    metrics["n_kernel_components"] = n_comps - n_loop
    if n_loop == n_comps:
        return btri, ground, node_comp, None, []
    if not n_loop:
        return btri, ground, node_comp, None, [btri]
    loop_comps = _mb(ckpt_util.checkpoint(comp_rows.where(big).select(*CK)),
                     n_loop)
    return (btri, ground, node_comp, loop_comps,
            [btri.join(loop_comps, CK, "left_anti")])


def _edge_views(btri: DataFrame, plus_pair=None,
                minus_pair=None) -> DataFrame:
    """The J1 message workload as ONE directed-edge table.

    Subject bnodes receive combineOrdered(h(obj), h(pred), PLUS); object
    bnodes combineOrdered(h(subj), h(pred), MINUS) (GraphColouring.java:
    505-534).  Rows with a ground other end (ot non-null) are the static
    messages — their value is constant across rounds and a pure-codegen
    combine at every scan; bnode→bnode rows (ok non-null) join the colour
    table each round.  Returned un-deduplicated: the caller dedups and
    checkpoints the single table once (set semantics: a duplicate input
    triple is exactly a duplicate edge row here, while distinct edges
    stay distinct even when their message values coincide).
    """
    def side(bcol, bk, ok, ot, mk):
        return btri.where(is_bnode_col(bcol)).select(
            "ck0", "ck1",
            F.col(f"{bk}0").alias("bk0"), F.col(f"{bk}1").alias("bk1"),
            F.col(f"{ok}0").alias("ok0"), F.col(f"{ok}1").alias("ok1"),
            F.col(f"{ot}0").alias("ot0"), F.col(f"{ot}1").alias("ot1"),
            "p0", "p1",
            F.lit(mk[0]).alias("mk0"), F.lit(mk[1]).alias("mk1"))

    return side("subj", "ks", "ko", "os", plus_pair) \
        .union(side("obj", "ko", "ks", "ss", minus_pair))


def _iteration_messages(static_msgs: DataFrame, bb_edges: DataFrame,
                        lab: DataFrame, lab_rows: int | None = None
                        ) -> DataFrame:
    # the other end's interned key (ok) is globally unique (128-bit over
    # graph_id+term), so the colour lookup joins on two longs only.  The
    # colour table shrinks as components converge and rides a broadcast
    # while it fits (lab_rows is exact, carried from the previous round's
    # convergence aggregation); above ``BROADCAST_ROWS`` — the 10^12-row
    # regime where no executor holds the colour table — the join becomes
    # a shuffle-hash build of the colour side against ``bb_edges``, which
    # was checkpointed pre-partitioned on (ok0, ok1) so ONLY the per-bnode
    # colour table exchanges each round and the edge table (triple-scale)
    # never re-shuffles across rounds.
    other_lab = lab.select(F.col("bk0").alias("_n0"),
                           F.col("bk1").alias("_n1"),
                           F.col("h0").alias("oc0"),
                           F.col("h1").alias("oc1"))
    if lab_rows is not None and lab_rows <= BROADCAST_ROWS:
        other_lab = F.broadcast(other_lab)
    else:
        other_lab = other_lab.hint("shuffle_hash")
    m0, m1 = combine3_pairs_sql("oc0", "oc1", "p0", "p1", "mk0", "mk1")
    dyn = (
        bb_edges
        .join(other_lab, on=[bb_edges.ok0 == other_lab._n0,
                             bb_edges.ok1 == other_lab._n1])
        .select("ck0", "ck1", "bk0", "bk1",
                m0.alias("m0"), m1.alias("m1"))
    )
    return static_msgs.union(dyn)


def _next_colors(msgs: DataFrame, lab: DataFrame,
                 lab_rows: int | None = None) -> DataFrame:
    """A1: sort(messages + own previous colour), combineOrdered-fold
    (GraphColouring.java:542-548).  Previous colours are unioned in as
    message rows and sort into place; repartition+sort + segmented numpy
    fold (fold_messages).
    """
    key = ["ck0", "ck1", "bk0", "bk1"]
    prev_rows = lab.select(*key, F.col("h0").alias("m0"),
                           F.col("h1").alias("m1"),
                           F.lit(True).alias("is_prev"))
    all_msgs = msgs.withColumn("is_prev", F.lit(False)).union(prev_rows)
    # late rounds shrink to a few active components: size the fold's
    # exchange to the known active-bnode count so a small round pays a
    # handful of Python-worker roundtrips instead of the full default
    # partition count (capped at the default — 10^12-row rounds are
    # unaffected; ≥ ~20k bnodes per task keeps Arrow batches efficient).
    # The target is used DIRECTLY (round 5 rounded it up to a multiple of
    # the core count against second-wave stragglers, but when target <
    # cores every task is < 20k bnodes by construction and the measured
    # ~4 ms/task Python-runner overhead dominates: 32 tasks where 6
    # suffice cost ~120 ms of pure launch overhead per round).
    parts = None
    if lab_rows:
        spark = msgs.sparkSession
        default = int(spark.conf.get("spark.sql.shuffle.partitions"))
        parts = min(default, max(1, lab_rows // 20_000 + 1))
    return fold_messages(all_msgs, parts)


def _kernel_colors(btri_kernel: DataFrame, hash_name: str) -> DataFrame:
    """Colour whole components with the local branch-and-bound kernel
    (GraphColouring.traverse + minimum-leaf selection, GraphColouring.java:
    137-141,180-253) from blank colours: task-sized components routed here
    directly, plus loop components that stalled (automorphic residue,
    refinement-audit failure) or ran over the round budget.

    One ``groups.map_groups`` pass colours the components of a partition
    one after another, sharing one ground-term hash cache; a task holds
    one Arrow batch plus its largest component."""
    schema = ("graph_id string, comp string, bnode string, "
              "h0 long, h1 long")

    def run(comps):
        from blabel_spark.canon.local import colour_component
        hf = get_hash_family(hash_name)
        static: dict[str, bytes] = {}
        for cpdf in comps:
            graph_id, comp = cpdf["graph_id"].iloc[0], cpdf["comp"].iloc[0]
            _, leaf = colour_component(
                sorted(set(zip(cpdf["subj"], cpdf["pred"], cpdf["obj"]))),
                static, hf)
            for b, c in leaf.colors.items():
                yield (graph_id, comp, b, *enc_pair(c))

    return map_groups(
        btri_kernel.select("graph_id", "comp", "subj", "pred", "obj"),
        ["graph_id", "comp"], run, schema)


# ---------------------------------------------------------------------------
# canonicalize and its phases
# ---------------------------------------------------------------------------

ROUTES = ("auto", "fixpoint", "by_graph")


def canonicalize(spark: SparkSession, triples: DataFrame, *,
                 dip: bool = True, upg: bool = True,
                 hash_name: str = "md5",
                 route: str = "auto",
                 kernel_graph_rows: int = 100_000,
                 checkpoint_dir: str | None = None) -> CanonResult:
    """Canonically label blank nodes of every graph in ``triples``.

    Input schema: (graph_id, subj, pred, obj) strings in N3 convention.
    Semantics match canon.local.label_graph (itself golden-tested against
    the reference), including dip/upg muxing.

    With ``checkpoint_dir`` set, the loop state is committed every
    ``CHECKPOINT_EVERY`` rounds and a restarted run resumes from the last
    commit (colours are pure functions of the previous round, so replay
    is idempotent; see sources.io.FixpointCheckpoint).  Components still
    active after ``MAX_ITERATIONS`` rounds are finished by the kernel.

    Routing (``route="auto"``): when every graph fits one task
    (≤ ``kernel_graph_rows`` rows — the per-document regime the reference
    always runs in, and the north-star transcript case where one graph is
    one conversation) the corpus is labelled by the per-graph kernel in a
    single embarrassingly-parallel pass.  Otherwise routing is per
    blank-node component: components with ≤ ``kernel_graph_rows``
    bnode-touching rows go straight to the component kernel, and only
    larger ones enter the distributed pair fixpoint (none: no round
    runs).  ``route="fixpoint"`` and any run with ``checkpoint_dir``
    send every component through the fixpoint; ``route="by_graph"``
    forces the per-graph kernel; any other ``route`` raises ValueError.
    All paths are bit-identical (parity tests assert it).  ``metrics``
    records the split as ``n_kernel_components`` / ``n_loop_components``.

    Per-component / per-bnode dimension tables whose exact counts are
    known (from actions the loop performs anyway) join via broadcast when
    at most ``BROADCAST_ROWS`` rows, else by the co-partitioned exchange.

    ``metrics["phases"]`` holds a record (wall, jobs, stages; see
    ``obs.phase``) for each phase, which between them run every Spark job
    of the call; each loop round's record is its ``iterations_log``
    entry.  The relabel stays lazy and runs in the caller's sink.
    """
    if route not in ROUTES:
        raise ValueError(f"route must be one of {ROUTES}, got {route!r}")
    metrics: dict = {}
    # RDF graphs are triple SETS (the reference loads into HashGraph /
    # TreeSet structures), but a whole-corpus dropDuplicates here would
    # cost an extra full-input shuffle.  Set semantics are instead
    # enforced inside shuffles that already exist: the edge views dedupe
    # during their one-time materialization (narrow all-long tables), the
    # graph/upg hash folds run over deduplicated per-triple hash rows,
    # the kernels normalize their groups to sets, and the labelled output
    # is dropDuplicates'd
    triples = triples.select(*TRIPLE_COLS)
    with ckpt_util.scope() as run:
        with obs.phase("prep", metrics):
            prep = _prep(triples, metrics, hash_name, route,
                         kernel_graph_rows, checkpoint_dir)
        if prep is not None:
            btri, ground, node_comp, loop_comps, kernel_parts = prep
            # loop-era state dies once leaf, its last consumer, materializes
            with ckpt_util.scope() as loop:
                with obs.phase("loop", metrics):
                    resolved, kernel_parts = _fixpoint(
                        loop, spark, btri, node_comp, loop_comps,
                        kernel_parts, metrics, hash_name, checkpoint_dir)
                with obs.phase("leaf_kernel", metrics):
                    leaf, n_leaf = _leaf_colours(resolved, kernel_parts,
                                                 hash_name)
                if leaf is None:
                    # bnode-free corpus: the result reads none of our state
                    return CanonResult(
                        triples.dropDuplicates(), spark.createDataFrame(
                            [], "graph_id string, bnode string, label string"),
                        metrics)
                loop.keep(leaf)
            with obs.phase("comp_mux", metrics):
                comp_mux = _comp_mux(btri, node_comp, leaf, n_leaf,
                                     metrics["n_components"], dip, hash_name)
            with obs.phase("mux", metrics):
                leaf_final, labels = _mux(
                    comp_mux, leaf, ground, node_comp,
                    metrics["n_components"], metrics["n_bnodes"], upg,
                    hash_name)
            # leaf_final (just materialized) supersedes both the raw leaf
            # colours and the per-component mux table — release them; the
            # result now rides on exactly three checkpoints: btri,
            # node_comp, leaf_final
            run.release(leaf, comp_mux)
            return CanonResult(
                _relabel(btri, ground, leaf_final, n_leaf),
                labels, metrics,
                _retained=run.keep(btri, node_comp, leaf_final))
    res = canonicalize_by_graph(spark, triples, hash_name=hash_name,
                                dip=dip, upg=upg)
    res.metrics["phases"] = {**metrics.pop("phases"),
                             **res.metrics["phases"]}
    res.metrics.update(metrics)
    if checkpoint_dir:
        # the per-graph route has no mid-fixpoint state: a run the user
        # believes is resumable is not — say so loudly, and record it
        import warnings
        res.metrics["ignored_options"] = ["checkpoint_dir"]
        warnings.warn(
            "canonicalize took the per-graph kernel route; option "
            "checkpoint_dir only applies to the distributed fixpoint and "
            "was ignored (pass route='fixpoint' to force the resumable path)",
            stacklevel=2)
    return res


def _fixpoint(loop, spark, btri, node_comp, loop_comps, kernel_parts,
              metrics, hash_name, checkpoint_dir):
    """The loop phase: the colour views (ck0, ck1, bk0, bk1, h0, h1) of
    components that turned discrete, and ``kernel_parts`` plus those the
    leaf kernel must finish.  Loop-era tables register with ``loop``, the
    caller's scope, open until the leaf colours materialize."""
    hf = get_hash_family(hash_name)
    blank_pair = enc_pair(hf.blank)
    n_loop = metrics["n_loop_components"]
    ckpt = None
    restored = None
    if checkpoint_dir:
        from blabel_spark.sources.io import FixpointCheckpoint
        ckpt = FixpointCheckpoint(spark, checkpoint_dir)
        restored = ckpt.restore()

    # set semantics for the message workload: the edge views dedupe per
    # side (a static row can never equal a bnode→bnode row — the ot/ok
    # nullability differs — so per-side dedup == dedup of the union) and
    # each side materializes ONCE in its loop shape:
    # * static messages are pre-combined to (ck, bk, m) — their value is
    #   constant across rounds, and materializing the combine here keeps
    #   the ~200-node combine3 lane tree OUT of every round's plan
    #   analysis and map stage;
    # * bnode→bnode edges are pre-partitioned on the colour lookup key:
    #   when the colour table outgrows BROADCAST_ROWS, each round's
    #   shuffle-hash join then exchanges only the (per-bnode, shrinking)
    #   colour table — never this (triple-scale) side.
    # Both are built from the loop components' rows only, and not at all
    # when every component went to the kernel.
    if n_loop:
        loop_btri = btri if loop_comps is None else \
            btri.join(loop_comps, CK, "left_semi")
        edges_raw = _edge_views(loop_btri, enc_pair(hf.plus),
                                enc_pair(hf.minus))
        sm0, sm1 = combine3_pairs_sql("ot0", "ot1", "p0", "p1", "mk0", "mk1")
        static_msgs = ckpt_util.checkpoint(
            edges_raw.where(F.col("ot0").isNotNull())
            .drop("ok0", "ok1").dropDuplicates()
            .select("ck0", "ck1", "bk0", "bk1",
                    sm0.alias("m0"), sm1.alias("m1")))
        bb_edges = ckpt_util.checkpoint(
            edges_raw.where(F.col("ot0").isNull())
            .drop("ot0", "ot1").dropDuplicates()
            .repartition(int(spark.conf.get("spark.sql.shuffle.partitions")),
                         "ok0", "ok1"))

    resolved: list[DataFrame] = []
    active = None  # None = every loop component is active
    it = 0
    superseded: list[DataFrame] = []   # released after the next collect
    # round-1 bounds: every loop component starts active (exact); its
    # colour rows are at most the bnode count (exact after round 1)
    n_act, n_lab_rows = n_loop, metrics["n_bnodes"]
    if restored is not None:
        it, lab, conv_prev, res_df, kern_df = restored
        metrics["resumed_from_iteration"] = it
        resolved = [res_df] if res_df is not None else []
        kernel_parts = [kern_df] if kern_df is not None else []
        active, n_act = ckpt_util.counted(conv_prev.select(*CK))
        n_lab_rows = lab.count()
    elif n_loop:
        # node_comp already holds exactly one row per (graph, bnode): the
        # initial colour table is pure codegen over it — no distinct
        # exchange over the edge endpoints
        lc0, lc1 = _ikey("graph_id", "comp")
        lb0, lb1 = _ikey("graph_id", "bnode")
        lab = (
            node_comp.select(lc0.alias("ck0"), lc1.alias("ck1"),
                             lb0.alias("bk0"), lb1.alias("bk1"))
            .withColumn("h0", F.lit(blank_pair[0]))
            .withColumn("h1", F.lit(blank_pair[1]))
        )
        if loop_comps is not None:
            lab = lab.join(loop_comps, CK, "left_semi")
        lab = ckpt_util.checkpoint(lab)
        conv_prev = lab.groupBy(*CK).agg(F.lit(1).alias("prev_nc"))
        # round 1 is the initial colour table's only consumer: retire it
        # with that round like any other superseded round state
        superseded = [lab]
    # per-iteration observability: one entry per round with component
    # status counts, wall, jobs and stages (the "per-partition lineage +
    # metrics" north_rule line, at fixpoint granularity).  The job and
    # stage counts MUST stay flat across rounds — growth is lineage
    # leaking through the lazy checkpoints, and the regression tests pin
    # exactly this invariant.
    iter_log: list[dict] = []
    # n_act > 0 on every entry: a round with no active component breaks
    while n_act:
        it += 1
        with obs.phase("round") as rec:
            rec["iteration"] = it
            sm = static_msgs if active is None else \
                static_msgs.join(_mb(active, n_act), CK, "left_semi")
            msgs = _iteration_messages(sm, bb_edges, lab, n_lab_rows)
            # ONE driver-sequenced job per round: both checkpoints are
            # LAZY, and the status collect below runs fold → audit →
            # status as one job, materializing both tables for every later
            # consumer.  Lineage still truncates at materialization (the
            # phase sets the marked-ancestors property, see obs.py), so
            # plans stay constant-size across rounds.  The reference's loop
            # likewise colours, rebuilds the partition and tests
            # termination in one pass per round (GraphColouring.java:
            # 463-666); per-round latency is the loop's only serial section.
            new_lab = ckpt_util.checkpoint(
                _next_colors(msgs, lab, n_lab_rows), eager=False)

            # convergence + refinement audit riding the fold output: the
            # fold passes each bnode's previous colour through (oh
            # columns), so we verify every round strictly REFINES the
            # partition (each new class lies inside one old class ⇔
            # #distinct(old,new) pairs == #distinct new) with no extra
            # join against the previous state.  An md5 collision that
            # merges classes while the component still grows would
            # otherwise keep status 'active' and silently diverge from the
            # oracle (GraphColouring.java:563-635 recovers
            # deterministically — here violating components route to the
            # kernel, which has that recovery).  Staged two-level
            # aggregation instead of multi-countDistinct: Spark plans the
            # latter as an Expand that triples the bnode rows before the
            # exchange, while these stages collapse rows map-side at every
            # step.
            pair_cnt = (new_lab.groupBy(*CK, "oh0", "oh1", "h0", "h1")
                        .agg(F.count("*").alias("npair")))
            newc = (pair_cnt.groupBy(*CK, "h0", "h1")
                    .agg(F.sum("npair").alias("nb_h"),
                         F.count("*").alias("n_old")))
            # the previous round's class count rides the SAME aggregation
            # as tagged union rows instead of a per-round broadcast join:
            # every active component contributes exactly one prev row
            # (conv_prev is derived from the previous conv, or the round-1
            # seed), so max(prev_nc) recovers it and count(nb_h) still
            # counts only the real colour-class rows — one fewer broadcast
            # build per round, same status arithmetic.
            nul = F.lit(None).cast("long")
            conv = ckpt_util.checkpoint(
                newc.select(*CK, "nb_h", "n_old", nul.alias("prev_nc"))
                .union(conv_prev.select(
                    *CK, nul.alias("nb_h"), nul.alias("n_old"),
                    F.col("prev_nc").cast("long")))
                .groupBy(*CK)
                .agg(F.count("nb_h").alias("nc"), F.sum("nb_h").alias("nb"),
                     F.sum("n_old").alias("ncross"),
                     F.max("prev_nc").alias("prev_nc"))
                .withColumn("status",
                            F.when(F.col("ncross") != F.col("nc"), "stalled")
                            .when(F.col("nc") == F.col("nb"), "discrete")
                            .when(F.col("nc") <= F.col("prev_nc"), "stalled")
                            .otherwise("active")), eager=False)
            crows = conv.groupBy("status") \
                .agg(F.count("*").alias("n"),
                     F.sum("nb").alias("b")).collect()
            counts = {r["status"]: int(r["n"]) for r in crows}
            bcounts = {r["status"]: int(r["b"]) for r in crows}
            rec.update({f"n_{k}": v for k, v in counts.items()})
        iter_log.append(rec)

        def with_status(df, status):
            return df.join(_mb(conv.where(F.col("status") == status)
                               .select(*CK), counts[status]),
                           CK, "left_semi")
        if counts.get("discrete"):
            resolved.append(with_status(new_lab.drop("oh0", "oh1"),
                                        "discrete"))
        if counts.get("stalled"):
            kernel_parts.append(with_status(btri, "stalled"))

        # this round's collect materialized the new pair: the previous
        # round's tables are dead unless a resolved/kernel view reads them
        # (those die with the loop scope) — the loop retains O(1) round
        # tables, not O(rounds) of dead corpus-scale state
        loop.release(*superseded)
        superseded = [t for t, read in (
            (new_lab, counts.get("discrete")),
            (conv, counts.get("discrete") or counts.get("stalled")))
            if not read]

        n_active = counts.get("active", 0)
        if n_active == 0 or it >= MAX_ITERATIONS:
            if n_active and it >= MAX_ITERATIONS:
                # over-budget components fall back to the kernel (the
                # reference uses wall-clock timeouts per document,
                # RunNQuadsTest.java:76)
                kernel_parts.append(with_status(btri, "active"))
                metrics["over_budget_comps"] = n_active
            break

        active = conv.where(F.col("status") == "active").select(*CK)
        # lazy view over the checkpointed new_lab: both consumers (message
        # join, previous-colour rows) rescan it through a broadcast
        # semi-join — cheaper than materializing a fourth table per round
        lab = with_status(new_lab.drop("oh0", "oh1"), "active")
        conv_prev = conv.where(F.col("status") == "active") \
            .select(*CK, F.col("nc").alias("prev_nc"))
        n_act = n_active
        n_lab_rows = bcounts.get("active", 0)

        if ckpt is not None and it % CHECKPOINT_EVERY == 0:
            ckpt.commit(it, lab, conv_prev,
                        reduce(DataFrame.union, resolved) if resolved
                        else None,
                        reduce(DataFrame.union, kernel_parts) if kernel_parts
                        else None)

    metrics["colour_iterations"] = it
    metrics["iterations_log"] = iter_log
    return resolved, kernel_parts


def _leaf_colours(resolved, kernel_parts, hash_name):
    """The leaf_kernel phase: the materialized leaf colours of every
    blank node and their row count, or (None, 0) for a bnode-free corpus."""
    parts = list(resolved)
    if kernel_parts:
        kc = _kernel_colors(reduce(DataFrame.union, kernel_parts), hash_name)
        c0, c1 = _ikey("graph_id", "comp")
        b0, b1 = _ikey("graph_id", "bnode")
        parts.append(kc.select(c0.alias("ck0"), c1.alias("ck1"),
                               b0.alias("bk0"), b1.alias("bk1"),
                               "h0", "h1"))
    if not parts:
        return None, 0
    return ckpt_util.counted(reduce(DataFrame.union, parts))


def _comp_mux(btri, node_comp, leaf, n_leaf, n_comps, dip,
              hash_name) -> DataFrame:
    """The comp_mux phase: per-component canonical hash + duplicate mux
    (GraphColouring.java:121-168, GraphLabelling.java:100-119), checkpointed
    as (graph_id, ck0, ck1, contributes, cb0, cb1)."""
    blank_pair = enc_pair(get_hash_family(hash_name).blank)
    # btrij: triple hash columns decorated with their endpoints' leaf
    # colours, joined on interned long keys — all fixed-width longs, no
    # strings; consumed once by the per-triple hash below.  leaf is
    # per-bnode (≪ triples): broadcast when it fits so the decoration is
    # map-side and btri is never re-exchanged — the distributed analogue
    # of GraphColouring.labelBlankNodes's O(triples) single pass over an
    # in-memory colour map (GraphColouring.java:433-451); above
    # BROADCAST_ROWS both joins fall back to shuffles.
    slab = _mb(
        leaf.select(F.col("bk0").alias("_s0"), F.col("bk1").alias("_s1"),
                    F.col("h0").alias("sc0"), F.col("h1").alias("sc1")),
        n_leaf)
    olab = _mb(
        leaf.select(F.col("bk0").alias("_o0"), F.col("bk1").alias("_o1"),
                    F.col("h0").alias("oc0"), F.col("h1").alias("oc1")),
        n_leaf)
    btrij = (
        btri
        .join(slab, on=[btri.ks0 == slab._s0, btri.ks1 == slab._s1],
              how="left").drop("_s0", "_s1")
        .join(olab, on=[btri.ko0 == olab._o0, btri.ko1 == olab._o1],
              how="left").drop("_o0", "_o1")
        .select("graph_id", "ck0", "ck1", "p0", "p1", "ss0", "ss1",
                "os0", "os1", "sc0", "sc1", "oc0", "oc1")
    )

    tm0, tm1 = combine3_pairs_sql(
        F.coalesce("sc0", "ss0"), F.coalesce("sc1", "ss1"),
        F.col("p0"), F.col("p1"),
        F.coalesce("oc0", "os0"), F.coalesce("oc1", "os1"))
    # per-triple hash rows, deduplicated (set semantics; distinct triples
    # have distinct (t0, t1) because leaf colours are injective, so this
    # 4-long dropDuplicates IS triple dedup, far narrower than shuffling
    # the string triples).  This one exchange is the tail's structural
    # minimum: a pre-keyed single-exchange variant (repartition on
    # (ck0, ck1) feeding both the distinct and the fold) measured a
    # consistent +13% REGRESSION in an interleaved A/B at sf0.1 — the
    # fold's second exchange is already collapsed by partial aggregation
    # (per-partition lane sums ≈ n_comps × n_partitions rows at any
    # scale), so the explicit keying only forfeits map-side dedup and the
    # balanced 4-key hash (BENCH.md round 5).
    th = btrij.select("ck0", "ck1", tm0.alias("t0"), tm1.alias("t1")) \
        .dropDuplicates()
    cd0, cd1 = _ikey("graph_id", "comp")
    # ONE aggregation over the per-bnode comp table yields BOTH the
    # (graph_id, comp) decode dictionary AND the component's bnode count
    # (the groupBy is the distinct)
    comp_sizes = (node_comp.groupBy("graph_id", "comp")
                  .agg(F.count("*").alias("nb"))
                  .withColumn("ck0", cd0).withColumn("ck1", cd1))
    # the component hash fold also emits the component's triple count
    # (nt) from the same two passes — no separate aggregation over th
    ghc = unordered_sum_pairs_sql(th, CK, "t0", "t1",
                                  "g0", "g1", extra_init=blank_pair,
                                  count_col="nt") \
        .join(_mb(comp_sizes, n_comps), CK)

    # duplicate-component key: with set-semantic input (deduped above) and
    # injective leaf colours, (g0, g1) is the unordered fold over the
    # component's exact distinct labelled triple set — the distributed
    # analogue of the oracle's graphs_seen TreeSet equality
    # (GraphLabelling.java:100-119); (nt, nb) guard the astronomically
    # rare md5 digest collision between non-isomorphic components
    dup_w = Window.partitionBy("graph_id", "g0", "g1", "nt", "nb") \
                  .orderBy("comp")
    return ckpt_util.checkpoint(
        ghc
        .withColumn("rank", F.row_number().over(dup_w))
        # duplicate mux ints: first copy 0, then count+1 = 2, 3, ...
        # (GraphLabelling.java:100-119 passing count+1 to
        # getCanonicalGraph)
        .withColumn("mux_i",
                    F.when(F.col("rank") == 1, F.lit(0))
                    .otherwise(F.col("rank")) if dip else F.lit(0))
        .withColumn("contributes",
                    F.lit(True) if dip else (F.col("rank") == 1))
        # duplicate-mux digest: pure codegen for md5
        .withColumns(dict(zip(("mx0", "mx1"),
                              int_pair_exprs(hash_name)(F.col("mux_i")))))
        .select("graph_id", "ck0", "ck1", "contributes",
                *(c.alias(n) for c, n in zip(combine2_pairs_sql(
                    "g0", "g1", F.col("mx0"), F.col("mx1")),
                    ("cb0", "cb1")))))


def _mux(comp_mux, leaf, ground, node_comp, n_comps, n_bnodes, upg,
         hash_name) -> tuple[DataFrame, DataFrame]:
    """The mux phase: the final per-bnode labels, checkpointed as
    (bk0, bk1, label), and their (graph_id, bnode, label) view."""
    # upg: graph-level unique hash (GraphLabelling.java:137-150), merged
    # into the per-component mux table so every downstream consumer needs
    # ONE compact join + ONE combine3 (combine2(combine2(h,cb),gh) ==
    # combine3(h,cb,gh), identical lane arithmetic)
    if upg:
        tp = term_pair_exprs(hash_name)
        gs0, gs1 = tp(F.col("subj"))
        gp0, gp1 = tp(F.col("pred"))
        go0, go1 = tp(F.col("obj"))
        gm0, gm1 = combine3_pairs_sql("a0", "a1", "b0", "b1", "c0", "c1")
        ground_th = (ground.select(
            "graph_id", gs0.alias("a0"), gs1.alias("a1"),
            gp0.alias("b0"), gp1.alias("b1"),
            go0.alias("c0"), go1.alias("c1"))
            .select("graph_id", gm0.alias("t0"), gm1.alias("t1"))
            .dropDuplicates())
        comb_h = comp_mux.where("contributes").select(
            "graph_id", F.col("cb0").alias("t0"), F.col("cb1").alias("t1"))
        ghash = unordered_sum_pairs_sql(
            ground_th.union(comb_h), ["graph_id"], "t0", "t1", "gh0", "gh1",
            extra_init=enc_pair(get_hash_family(hash_name).blank))
        # per-graph table, rows ≤ n_components
        mux = comp_mux.join(_mb(ghash, n_comps), "graph_id") \
            .select("ck0", "ck1", "cb0", "cb1", "gh0", "gh1")

        def final_pair(h0, h1):
            return combine3_pairs_sql(h0, h1, F.col("cb0"), F.col("cb1"),
                                      F.col("gh0"), F.col("gh1"))
    else:
        mux = comp_mux.select("ck0", "ck1", "cb0", "cb1")

        def final_pair(h0, h1):
            return combine2_pairs_sql(h0, h1, F.col("cb0"), F.col("cb1"))

    # final per-bnode label: ONE final_pair fold over the per-bnode leaf
    # table — the final colour is a pure function of (leaf colour,
    # component mux row), so computing it per triple occurrence (as a
    # fused in-row relabel would) repeats the same fold once per edge
    fc0, fc1 = final_pair(F.col("h0"), F.col("h1"))
    leaf_final = ckpt_util.checkpoint(
        leaf.join(_mb(mux, n_comps), CK)
        .select("bk0", "bk1",
                F.concat(F.lit("_:SK00"), pair_hex(fc0, fc1))
                .alias("label")))
    # bnode decode dictionary: the CC node table already holds one row
    # per distinct (graph, bnode) and is checkpointed — attach keys by
    # codegen, no extra distinct shuffle
    dk0, dk1 = _ikey("graph_id", "bnode")
    bnode_dict = node_comp.select("graph_id", "bnode",
                                  dk0.alias("bk0"), dk1.alias("bk1"))
    return leaf_final, (leaf_final
                        .join(_mb(bnode_dict, n_bnodes), ["bk0", "bk1"])
                        .select("graph_id", "bnode", "label"))


def _relabel(btri, ground, leaf_final, n_leaf) -> DataFrame:
    """The labelled triples (GraphColouring.labelBlankNodes), lazy: two
    map-side joins of the bnode triples against the per-bnode labels on
    interned long keys, plus the ground triples."""
    sl = _mb(leaf_final.select(F.col("bk0").alias("_s0"),
                               F.col("bk1").alias("_s1"),
                               F.col("label").alias("_slab")),
             n_leaf)
    ol = _mb(leaf_final.select(F.col("bk0").alias("_o0"),
                               F.col("bk1").alias("_o1"),
                               F.col("label").alias("_olab")),
             n_leaf)
    return (
        btri
        .join(sl, on=[btri.ks0 == sl._s0, btri.ks1 == sl._s1], how="left")
        .join(ol, on=[btri.ko0 == ol._o0, btri.ko1 == ol._o1], how="left")
        .select("graph_id",
                F.coalesce("_slab", "subj").alias("subj"),
                "pred",
                F.coalesce("_olab", "obj").alias("obj"))
        .union(ground)
        .dropDuplicates()
    )


# ---------------------------------------------------------------------------
# per-graph kernel canonicalizer — the reference's per-document execution
# shape (RunNQuadsTest.java:257-451): each graph is labelled whole by the
# golden-tested local kernel, one ``groups.map_groups`` group per graph.
# Used for hash families wider than 16 bytes (sha1/sha256/sha512, which do
# not fit the int64-pair fixpoint representation) and available as a
# general fallback; graphs are embarrassingly parallel across the cluster
# but each graph must fit a single task.
# ---------------------------------------------------------------------------

def canonicalize_by_graph(spark: SparkSession, triples: DataFrame, *,
                          hash_name: str = "md5", dip: bool = True,
                          upg: bool = True) -> CanonResult:
    # a graph over canon.local.MAX_LEAVES search leaves passes through
    # unlabelled; read on the driver, the kernel closure carries it
    max_leaves = canon_local.MAX_LEAVES
    out_schema = ("graph_id string, kind string, a string, b string, "
                  "c string")

    def run(graphs):
        from blabel_spark.canon.local import (
            HashCollisionError, SearchBudgetExceeded, label_graph)
        for gpdf in graphs:
            g = gpdf["graph_id"].iloc[0]
            trips = list(zip(gpdf["subj"], gpdf["pred"], gpdf["obj"]))
            try:
                res = label_graph(trips, dip=dip, upg=upg,
                                  hash_name=hash_name,
                                  max_leaves=max_leaves)
            except (SearchBudgetExceeded, HashCollisionError) as e:
                # a pathological graph must not sink the corpus job: pass
                # its triples through unlabelled and report it, the
                # reference's per-document timeout behaviour
                # (RunNQuadsTest.java:296-320)
                yield from ((g, "t", s, p, o)
                            for s, p, o in sorted(set(trips)))
                yield (g, "e", type(e).__name__, str(e)[:200], "")
                continue
            yield from ((g, "t", s, p, o) for s, p, o in res.graph)
            yield from ((g, "l", n, "_:SK00" + c.hex(), "")
                        for n, c in sorted(res.colors.items()))

    metrics = {"mode": "by_graph", "hash_name": hash_name}
    with ckpt_util.scope() as held, obs.phase("by_graph", metrics):
        # no input dedupe needed: label_graph normalizes its group to a set
        out, n_failed = ckpt_util.counted(
            map_groups(triples.select(*TRIPLE_COLS), ["graph_id"], run,
                       out_schema),
            F.col("kind") == "e")
        labelled = (out.where(F.col("kind") == "t")
                    .select("graph_id", F.col("a").alias("subj"),
                            F.col("b").alias("pred"),
                            F.col("c").alias("obj")))
        labels = (out.where(F.col("kind") == "l")
                  .select("graph_id", F.col("a").alias("bnode"),
                          F.col("b").alias("label")))
        if n_failed:
            metrics["failed_graphs"] = n_failed
            metrics["failed_sample"] = [
                (r["graph_id"], r["a"])
                for r in out.where(F.col("kind") == "e").limit(5).collect()]
        return CanonResult(labelled, labels, metrics,
                           _retained=held.keep(out))

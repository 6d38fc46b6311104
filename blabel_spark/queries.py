"""Query registry: every implemented operator exposed as a (Spark callable,
DuckDB oracle SQL) pair for the driver's correctness gate.

Naming contract: every computed column is aliased identically in the Spark
plan and the oracle SQL — the driver sorts columns by name and hashes
values.  Floating aggregates use integer-cent arithmetic or explicit
round(…, n) on both sides so value hashes are stable.

Operator coverage keys reference SURVEY.md §2 (P=filters, J=joins,
A=aggregations, O=sorts, U=set ops, F=scalar functions) plus the
training-data ops mandated by the brief (dedup/similarity/text).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from blabel_spark import ckpt_util
from blabel_spark import flagship_oracles as _fo
from blabel_spark.ops.triples_view import TRIPLES_CTE, build_triples, load

HEX = "0123456789abcdef"


def _is_b(c):
    return F.col(c).startswith("_:")


# ---------------------------------------------------------------------------
# blabel-core operators over the derived triples view
# ---------------------------------------------------------------------------

def q_ground_filter(spark, sf):
    """P2: ground-triple filter (GraphLeaning.java:155-168)."""
    t = build_triples(spark, sf)
    return (t.where(~_is_b("subj") & ~_is_b("obj"))
            .groupBy("graph_id").agg(F.count("*").alias("n_ground")))


SQL_GROUND = TRIPLES_CTE + """
SELECT graph_id, count(*) AS n_ground
FROM triples
WHERE NOT starts_with(subj, '_:') AND NOT starts_with(obj, '_:')
GROUP BY graph_id
"""


def q_bnode_positions(spark, sf):
    """P3: bnode-position scan via explode (GraphColouring.java:519-533)."""
    t = build_triples(spark, sf)
    pos = t.select(
        "graph_id",
        F.explode(F.array(
            F.struct(F.col("subj").alias("term"), F.lit("s").alias("pos")),
            F.struct(F.col("obj").alias("term"), F.lit("o").alias("pos"))))
        .alias("x"))
    return (pos.select("graph_id", "x.term", "x.pos")
            .where(F.col("term").startswith("_:"))
            .groupBy("pos")
            .agg(F.count("*").alias("n_mentions"),
                 F.countDistinct("term").alias("n_bnodes")))


SQL_BNODE_POS = TRIPLES_CTE + """
, pos AS (
  SELECT graph_id, subj AS term, 's' AS pos FROM triples
  UNION ALL
  SELECT graph_id, obj AS term, 'o' AS pos FROM triples
)
SELECT pos, count(*) AS n_mentions, count(DISTINCT term) AS n_bnodes
FROM pos WHERE starts_with(term, '_:') GROUP BY pos
"""


def q_pred_cardinality(spark, sf):
    """A6: predicate cardinality stats (GraphLeaning.java:298-317)."""
    t = build_triples(spark, sf)
    return t.groupBy("pred").agg(F.count("*").alias("n_triples"))


SQL_PRED_CARD = TRIPLES_CTE + \
    "SELECT pred, count(*) AS n_triples FROM triples GROUP BY pred"


def q_distinct_bnodes(spark, sf):
    """A8: distinct-bnode count per graph (RunSyntheticEvaluation.java:332-342)."""
    t = build_triples(spark, sf)
    b = t.select("graph_id", F.col("subj").alias("term")).where(_is_b("subj")) \
        .union(t.select("graph_id", F.col("obj").alias("term"))
               .where(_is_b("obj")))
    return b.groupBy("graph_id").agg(
        F.countDistinct("term").alias("n_bnodes"))


SQL_DISTINCT_B = TRIPLES_CTE + """
, b AS (
  SELECT graph_id, subj AS term FROM triples WHERE starts_with(subj, '_:')
  UNION ALL
  SELECT graph_id, obj AS term FROM triples WHERE starts_with(obj, '_:')
)
SELECT graph_id, count(DISTINCT term) AS n_bnodes FROM b GROUP BY graph_id
"""


def q_wl_round(spark, sf):
    """J1+A1 skeleton: ONE colour-refinement iteration in SQL-checkable
    form — edge messages md5(other|pred|dir) grouped per bnode, sorted,
    re-hashed with the previous colour (GraphColouring.java:505-548 with
    md5-of-concat standing in for the Guava fold).

    Triple-set semantics ride the aggregation itself: a bnode's message
    is an injective image of its (direction, pred, other) edge, so
    duplicate input triples are exactly duplicate (bnode, msg) rows and
    ``collect_set`` dedupes them map-side — no corpus-wide
    dropDuplicates exchange before the groupBy (same md5-collision
    budget the engine accepts everywhere)."""
    t = build_triples(spark, sf)
    init = lambda c: F.md5(F.col(c))  # initial colour = md5(term)
    subj_msgs = t.where(_is_b("subj")).select(
        "graph_id", F.col("subj").alias("bnode"),
        F.md5(F.concat(init("obj"), F.lit("|"), F.col("pred"),
                       F.lit("|+"))).alias("msg"))
    obj_msgs = t.where(_is_b("obj")).select(
        "graph_id", F.col("obj").alias("bnode"),
        F.md5(F.concat(init("subj"), F.lit("|"), F.col("pred"),
                       F.lit("|-"))).alias("msg"))
    msgs = subj_msgs.union(obj_msgs)
    return (msgs.groupBy("graph_id", "bnode")
            .agg(F.md5(F.concat(
                F.array_join(F.sort_array(F.collect_set("msg")), ","),
                F.lit("|"), F.md5(F.col("bnode")))).alias("color")))


SQL_WL_ROUND = TRIPLES_CTE + """
, dtriples AS (SELECT DISTINCT * FROM triples)
, msgs AS (
  SELECT graph_id, subj AS bnode,
         md5(md5(obj) || '|' || pred || '|+') AS msg
  FROM dtriples WHERE starts_with(subj, '_:')
  UNION ALL
  SELECT graph_id, obj AS bnode,
         md5(md5(subj) || '|' || pred || '|-') AS msg
  FROM dtriples WHERE starts_with(obj, '_:')
)
SELECT graph_id, bnode,
       md5(string_agg(msg, ',' ORDER BY msg) || '|' || md5(bnode)) AS color
FROM msgs GROUP BY graph_id, bnode
"""


def q_wl_class_sizes(spark, sf):
    """A2: colour-class partition stats after one refinement round
    (MapTreeSet construction, GraphColouring.java:497,551)."""
    colors = q_wl_round(spark, sf)
    classes = colors.groupBy("graph_id", "color").agg(
        F.count("*").alias("class_size"))
    return classes.groupBy("graph_id").agg(
        F.count("*").alias("n_classes"),
        F.max("class_size").alias("max_class"))


SQL_WL_CLASSES = TRIPLES_CTE + """
, dtriples AS (SELECT DISTINCT * FROM triples)
, msgs AS (
  SELECT graph_id, subj AS bnode,
         md5(md5(obj) || '|' || pred || '|+') AS msg
  FROM dtriples WHERE starts_with(subj, '_:')
  UNION ALL
  SELECT graph_id, obj AS bnode,
         md5(md5(subj) || '|' || pred || '|-') AS msg
  FROM dtriples WHERE starts_with(obj, '_:')
)
, colors AS (
  SELECT graph_id, bnode,
         md5(string_agg(msg, ',' ORDER BY msg) || '|' || md5(bnode)) AS color
  FROM msgs GROUP BY graph_id, bnode
)
, classes AS (
  SELECT graph_id, color, count(*) AS class_size
  FROM colors GROUP BY graph_id, color
)
SELECT graph_id, count(*) AS n_classes, max(class_size) AS max_class
FROM classes GROUP BY graph_id
"""


def q_connected_components(spark, sf):
    """J4: connected bnode components (HashGraph.blankNodePartition,
    HashGraph.java:260-304) via the engine's connected-components operator
    (``components.py``)."""
    from blabel_spark.canon.distributed import bnode_components
    t = build_triples(spark, sf)
    btri = t.where(_is_b("subj") | _is_b("obj"))
    return bnode_components(btri).select("graph_id", "bnode", "comp")


SQL_CC = TRIPLES_CTE + """
, bedges AS (
  SELECT DISTINCT graph_id, subj AS a, obj AS b FROM triples
  WHERE starts_with(subj, '_:') AND starts_with(obj, '_:') AND subj <> obj
)
, sym AS (
  SELECT graph_id, a, b FROM bedges
  UNION
  SELECT graph_id, b, a FROM bedges
  UNION
  SELECT graph_id, term, term FROM (
    SELECT graph_id, subj AS term FROM triples WHERE starts_with(subj, '_:')
    UNION
    SELECT graph_id, obj AS term FROM triples WHERE starts_with(obj, '_:')
  )
)
, reach(graph_id, a, b) AS (
  SELECT graph_id, a, b FROM sym
  UNION
  SELECT r.graph_id, r.a, s.b
  FROM reach r JOIN sym s ON r.graph_id = s.graph_id AND r.b = s.a
)
SELECT graph_id, a AS bnode, min(b) AS comp
FROM reach GROUP BY graph_id, a
"""
SQL_CC = SQL_CC.replace("WITH ", "WITH RECURSIVE ", 1)


def q_graph_dup_census(spark, sf):
    """A9+A5 skeleton: duplicate-graph census by order-insensitive graph
    hash (RunNQuadsTest.java:455-473) — md5 of the sorted serialized
    triples standing in for combineUnordered."""
    # serialized triples are injective of the triple (subj/pred carry no
    # spaces in N3), so duplicate input triples are exactly duplicate ts
    # values and ``collect_set`` enforces set semantics map-side — no
    # corpus-wide dropDuplicates exchange before the groupBy
    t = build_triples(spark, sf)
    tstr = t.select("graph_id", F.concat_ws(" ", "subj", "pred", "obj")
                    .alias("ts"))
    ghash = tstr.groupBy("graph_id").agg(
        F.md5(F.array_join(F.sort_array(F.collect_set("ts")), "\n"))
        .alias("graph_hash"))
    return (ghash.groupBy("graph_hash")
            .agg(F.count("*").alias("n_graphs"))
            .orderBy(F.desc("n_graphs"), "graph_hash"))


SQL_DUP_CENSUS = TRIPLES_CTE + """
, dtriples AS (SELECT DISTINCT * FROM triples)
, tstr AS (
  SELECT graph_id, subj || ' ' || pred || ' ' || obj AS ts FROM dtriples
)
, ghash AS (
  SELECT graph_id,
         md5(string_agg(ts, chr(10) ORDER BY ts)) AS graph_hash
  FROM tstr GROUP BY graph_id
)
SELECT graph_hash, count(*) AS n_graphs
FROM ghash GROUP BY graph_hash
ORDER BY n_graphs DESC, graph_hash
"""


def q_canonical_sort(spark, sf):
    """O1+U1: sorted distinct graph (TreeSet semantics,
    GraphColouring.java:433-451) for one bucket of graphs."""
    t = build_triples(spark, sf)
    return (t.where(F.col("graph_id") == "g7")
            .dropDuplicates()
            .orderBy("subj", "pred", "obj"))


SQL_CANON_SORT = TRIPLES_CTE + """
SELECT DISTINCT graph_id, subj, pred, obj FROM triples
WHERE graph_id = 'g7'
ORDER BY subj, pred, obj
"""


def q_trivial_nonlean(spark, sf):
    """J5 skeleton: bnodes whose exact edge set is contained in another
    node's (GraphLeaning.filterTrivialNonLeanBnodes, GraphLeaning.java:
    320-437).  Edge = (direction, pred, other-end).

    Scale shape — rarest-edge probing, the SQL port of the local kernel's
    selectivity index (lean/local.py:89-110; GraphLeaning.java:836-850):
    each bnode x probes on its LEAST-FREQUENT edge only, so the candidate
    join fans out by min-edge frequency (≈1-2 partners) instead of
    exploding O(k²) on popular hub edges like a full edge self-join; the
    exact containment count then runs only over surviving (x, y) pairs.
    The oracle SQL keeps the direct all-pairs spec — same result set.

    The input is NOT pre-deduplicated: a duplicate triple is exactly a
    duplicate edge row, so the edge-level ``distinct()`` below subsumes
    triple dedup — one fewer corpus-wide exchange of the raw strings."""
    t = build_triples(spark, sf)
    # edge identity (direction, pred, other-end) AND the node itself are
    # interned as 128-bit xxhash64 pairs scoped by graph — every join,
    # groupBy and distinct below moves fixed-width longs instead of N3
    # strings (the same flyweight-interning trick as the canonical
    # fixpoint, S4); the node string itself is only needed for the bnode
    # test, applied before interning
    def side(node, mark, other):
        e = F.concat(F.lit(mark), "pred", F.lit("|"), F.col(other))
        return t.select(
            "graph_id",
            F.col(node).startswith("_:").alias("is_b"),
            F.xxhash64(F.lit(1), "graph_id", F.col(node)).alias("nk0"),
            F.xxhash64(F.lit(2), "graph_id", F.col(node)).alias("nk1"),
            F.xxhash64(F.lit(1), "graph_id", e).alias("e0"),
            F.xxhash64(F.lit(2), "graph_id", e).alias("e1"))

    edges = ckpt_util.checkpoint(side("subj", "+|", "obj")
                                 .union(side("obj", "-|", "subj"))
                                 .distinct())
    bedges = edges.where(F.col("is_b"))
    # per-edge frequency → each bnode's rarest edge (deterministic
    # (f, e-key) tie-break; completeness is preserved for EVERY
    # probe-edge choice, so the tie-break only pins the plan).  The same
    # aggregation also emits the bnode's distinct-edge count n_x (freq
    # rows are unique per (e0, e1), so the join is 1:1 and the group's
    # row count IS the edge count) — no separate per-node count pass.
    freq = edges.groupBy("e0", "e1").agg(F.count("*").alias("f"))
    rare = (
        bedges.join(freq, ["e0", "e1"])
        .groupBy("graph_id", "nk0", "nk1")
        .agg(F.min_by(F.struct("e0", "e1"),
                      F.struct("f", "e0", "e1")).alias("ek"),
             F.count("*").alias("n_x"))
        .select("graph_id", F.col("nk0").alias("x0"),
                F.col("nk1").alias("x1"),
                F.col("ek.e0").alias("e0"), F.col("ek.e1").alias("e1"),
                "n_x")
    )
    # the edge keys embed the graph id, so e-keyed joins never cross
    # graphs and graph_id only travels where the output needs it
    cand = (
        rare.join(edges.select(F.col("nk0").alias("y0"),
                               F.col("nk1").alias("y1"), "e0", "e1"),
                  ["e0", "e1"])
        .where((F.col("x0") != F.col("y0")) | (F.col("x1") != F.col("y1")))
        .select("graph_id", "x0", "x1", "y0", "y1", "n_x")
    )
    # containment verify on surviving pairs only: every edge of x must be
    # an edge of y
    xe = bedges.select(F.col("nk0").alias("x0"), F.col("nk1").alias("x1"),
                       "e0", "e1")
    ye = edges.select(F.col("nk0").alias("y0"), F.col("nk1").alias("y1"),
                      "e0", "e1")
    matched = (
        cand.join(xe, ["x0", "x1"])
        .join(ye, ["y0", "y1", "e0", "e1"], "left_semi")
        .groupBy("graph_id", "x0", "x1", "y0", "y1", "n_x")
        .agg(F.count("*").alias("n_match"))
    )
    dominated = (
        matched
        .where(F.col("n_match") == F.col("n_x"))
        .select("graph_id", "x0", "x1")
        .distinct()
    )
    return dominated.groupBy("graph_id").agg(
        F.count("*").alias("n_nonlean"))


SQL_NONLEAN = TRIPLES_CTE + """
, dtriples AS (SELECT DISTINCT * FROM triples)
, edges AS (
  SELECT DISTINCT graph_id, subj AS node, '+|' || pred || '|' || obj AS e
  FROM dtriples
  UNION
  SELECT DISTINCT graph_id, obj AS node, '-|' || pred || '|' || subj AS e
  FROM dtriples
)
, cnt AS (
  SELECT graph_id, node, count(*) AS n FROM edges GROUP BY graph_id, node
)
, matched AS (
  SELECT ex.graph_id, ex.node AS x, ey.node AS y, count(*) AS n_match
  FROM (SELECT * FROM edges WHERE starts_with(node, '_:')) ex
  JOIN edges ey ON ex.graph_id = ey.graph_id AND ex.e = ey.e
              AND ex.node <> ey.node
  GROUP BY ex.graph_id, ex.node, ey.node
)
, dominated AS (
  SELECT DISTINCT m.graph_id, m.x AS bnode
  FROM matched m JOIN cnt c ON m.graph_id = c.graph_id AND m.x = c.node
  WHERE m.n_match = c.n AND starts_with(m.x, '_:')
)
SELECT graph_id, count(*) AS n_nonlean FROM dominated GROUP BY graph_id
"""


def q_lean_graphs(spark, sf):
    """§3.2 leaning (no SQL oracle — the endomorphism search is not
    SQL-expressible): per-graph core sizes after leaning.  Verified in
    pytest via witness-soundness/idempotence invariants instead."""
    from blabel_spark.lean.distributed import lean_graphs
    t = build_triples(spark, sf)
    lean, wit = lean_graphs(spark, t)
    return lean.groupBy("graph_id").agg(F.count("*").alias("n_lean"))


def q_transcript_kg(spark, sf):
    """Flagship north-star pipeline (rows-only — transcripts are not a
    driver table, so the corpus is synthesized deterministically here):
    transcripts → extraction → canonicalization → per-conversation stats.
    Extraction P/R and the text-equality invariant are asserted in pytest
    (tests/test_extract.py)."""
    from blabel_spark.canon.distributed import canonicalize
    from blabel_spark.datagen import gazetteer, transcripts_df
    from blabel_spark.extract.pipeline import extract_triples
    n_convs = max(int(2000 * float(sf.rstrip("/").rsplit("sf", 1)[-1])), 50)
    tdf, _ = transcripts_df(spark, seed=42, n_convs=n_convs)
    triples = extract_triples(spark, tdf, gazetteer())
    res = canonicalize(spark, triples)
    return (res.labelled.groupBy("graph_id")
            .agg(F.count("*").alias("n_triples"),
                 F.sum(F.when(F.col("subj").startswith("_:SK00"), 1)
                       .otherwise(0)).alias("n_labelled_subjects")))


def q_canonical_labels(spark, sf):
    """Flagship: canonical labelling of every derived graph; returns the
    per-graph label census.  SQL-checkable via the labelling invariants:
    the engine must emit exactly one label per distinct bnode, and labels
    are injective within a graph (blabel's canonical labelling is a
    bijective relabelling — GraphLabelling.call, GraphLabelling.java:
    61-192), so n_bnodes == n_labels == the distinct-bnode count DuckDB
    derives from the raw tables.  Bit-exact label VALUES are driver-checked
    separately (canonical_label_values) and golden-tested in pytest."""
    from blabel_spark.canon.distributed import canonicalize
    t = build_triples(spark, sf)
    res = canonicalize(spark, t)
    return (res.labels.groupBy("graph_id")
            .agg(F.count("*").alias("n_bnodes"),
                 F.countDistinct("label").alias("n_labels")))


SQL_CANONICAL_LABELS = TRIPLES_CTE + """
, b AS (
  SELECT graph_id, subj AS term FROM triples WHERE starts_with(subj, '_:')
  UNION ALL
  SELECT graph_id, obj AS term FROM triples WHERE starts_with(obj, '_:')
)
SELECT graph_id, count(DISTINCT term) AS n_bnodes,
       count(DISTINCT term) AS n_labels
FROM b GROUP BY graph_id
"""


def q_canonical_label_values(spark, sf):
    """Flagship, bit-exact: the full (graph_id, bnode, label) table from
    the distributed fixpoint, compared against labels precomputed by the
    independent single-thread oracle (canon.local.label_graph, itself
    golden-tested against the reference's BlabelTest labels).  Oracle data
    is pinned to sf0.01 — see tools/gen_flagship_oracles.py.  Forces the
    distributed pair-fixpoint route so the driver gate exercises the
    novel engine path (auto-routing would pick the per-graph kernel on
    this corpus)."""
    from blabel_spark.canon.distributed import canonicalize
    t = build_triples(spark, sf)
    return canonicalize(spark, t, route="fixpoint").labels \
        .select("graph_id", "bnode", "label")


# ---------------------------------------------------------------------------
# relational workhorse queries (scan/filter/join/agg/sort/limit parity)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf):
    """A10 analogue: grouped aggregation with exact integer-cent sums."""
    li = load(spark, sf, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2024-06-30"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
             F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
             .alias("sum_base_cents"),
             F.count("*").alias("n_rows"))
    )


SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_base_cents,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate <= '2024-06-30'
GROUP BY l_returnflag, l_linestatus
"""


def q_customer_nation_rollup(spark, sf):
    """J3 equi-join chain + broadcast dims: customer ⋈ nation ⋈ region."""
    c = load(spark, sf, "customer")
    n = load(spark, sf, "nation")
    r = load(spark, sf, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count("*").alias("n_customers"),
             F.sum(F.round(F.col("c_acctbal") * 100).cast("bigint"))
             .alias("acctbal_cents"))
    )


SQL_CUST_NATION = """
SELECT r_name, count(*) AS n_customers,
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS acctbal_cents
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_top_revenue_orders(spark, sf):
    """J3 + O8 top-k with deterministic tie-break."""
    li = load(spark, sf, "lineitem")
    o = load(spark, sf, "orders")
    rev = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.round(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                           * 100).cast("bigint")).alias("revenue_cents"))
    )
    return (
        rev.join(o, rev.l_orderkey == o.o_orderkey)
        .select(F.col("o_orderkey").alias("orderkey"), "o_orderpriority",
                "revenue_cents")
        .orderBy(F.desc("revenue_cents"), F.asc("orderkey"))
        .limit(15)
    )


SQL_TOP_REVENUE = """
SELECT o_orderkey AS orderkey, o_orderpriority, revenue_cents
FROM (
  SELECT l_orderkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT)
           AS revenue_cents
  FROM lineitem GROUP BY l_orderkey
) r JOIN orders ON l_orderkey = o_orderkey
ORDER BY revenue_cents DESC, orderkey ASC
LIMIT 15
"""


def q_anti_join_parts(spark, sf):
    """P4 analogue: anti-join — parts never shipped (GraphLeaning.java:
    430-437 removal pattern)."""
    p = load(spark, sf, "part")
    li = load(spark, sf, "lineitem")
    return (p.join(li, p.p_partkey == li.l_partkey, "left_anti")
            .groupBy("p_brand").agg(F.count("*").alias("n_unshipped")))


SQL_ANTI_PARTS = """
SELECT p_brand, count(*) AS n_unshipped
FROM part
WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
GROUP BY p_brand
"""


def q_semi_join_suppliers(spark, sf):
    """J6 analogue: semi-join — suppliers with at least one shipped item."""
    s = load(spark, sf, "supplier")
    li = load(spark, sf, "lineitem")
    return (s.join(li, s.s_suppkey == li.l_suppkey, "left_semi")
            .groupBy("s_nationkey").agg(F.count("*").alias("n_suppliers")))


SQL_SEMI_SUPP = """
SELECT s_nationkey, count(*) AS n_suppliers
FROM supplier
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)
GROUP BY s_nationkey
"""


def q_event_histogram(spark, sf):
    """A10: value histogram with the reference's bin edges
    (AnalyseNQuadsResults.java:26-28 Binner)."""
    e = load(spark, sf, "events")
    bin_col = (F.when(F.col("value") < 10, "0-9")
               .when(F.col("value") < 100, "10-99")
               .when(F.col("value") < 1000, "100-999")
               .otherwise("1000+"))
    return (e.groupBy("event_type", bin_col.alias("bin"))
            .agg(F.count("*").alias("n_events")))


SQL_EVENT_HIST = """
SELECT event_type,
       CASE WHEN value < 10 THEN '0-9'
            WHEN value < 100 THEN '10-99'
            WHEN value < 1000 THEN '100-999'
            ELSE '1000+' END AS bin,
       count(*) AS n_events
FROM events GROUP BY 1, 2
"""


def q_user_first_event(spark, sf):
    """§2.8 window: first event per user under stable ordering."""
    e = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (e.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("user_id", "event_id", "event_type"))


SQL_FIRST_EVENT = """
SELECT user_id, event_id, event_type FROM (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
"""


def q_sessionize(spark, sf):
    """§2.8 window analytics: gap-based sessionization (lag + cumulative
    sum) — the standard event-stream rollup a transcripts pipeline needs."""
    e = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.unix_timestamp("ts")
           - F.unix_timestamp(F.lag("ts").over(w))) >= 1800
    sess = (e.withColumn("new_s", F.when(gap | F.lag("ts").over(w).isNull(),
                                         1).otherwise(0))
            .withColumn("session_id", F.sum("new_s").over(
                w.rowsBetween(Window.unboundedPreceding, 0))))
    return (sess.groupBy("user_id", "session_id")
            .agg(F.count("*").alias("n_events"),
                 F.sum(F.round(F.col("value") * 100).cast("bigint"))
                 .alias("value_cents")))


SQL_SESSIONIZE = """
WITH gaps AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, value,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_id
  FROM gaps
)
SELECT user_id, session_id, count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM sess GROUP BY user_id, session_id
"""


def q_max_by_event(spark, sf):
    """O7: argmax tracking (max_by) — highest-value event per type."""
    e = load(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy(F.desc("value"),
                                                 F.asc("event_id"))
    return (e.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("event_type", "event_id",
                    F.round("value", 2).alias("value")))


SQL_MAX_BY = """
SELECT event_type, event_id, round(value, 2) AS value FROM (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id ASC) AS rn
  FROM events
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# corpus-run analysis (ops.analyse — AnalyseNQuadsResults counterpart)
# driven by a deterministic runs table derived from `documents`, so the
# aggregation logic has a live DuckDB twin in the driver gate
# ---------------------------------------------------------------------------

def _runs_view(spark, sf):
    """Deterministic (mode, doc, triples, bnodes, runtime_ms) runs table:
    every 50th document is an error row (negative runtime, the
    reference's TSV convention, RunNQuadsTest.java:296-320)."""
    d = load(spark, sf, "documents")
    return d.select(
        F.when(F.col("doc_id") % 2 == 0, "LABEL").otherwise("LEAN")
        .alias("mode"),
        F.col("doc_id").cast("string").alias("doc"),
        F.col("n_chars").alias("triples"),
        (F.col("n_chars") % 97).alias("bnodes"),
        F.when(F.col("doc_id") % 50 == 0,
               -((F.col("n_chars") % 1000) + 1))
        .otherwise((F.col("n_chars") * 7) % 100000).alias("runtime_ms"))


_SQL_RUNS = """
  SELECT CASE WHEN doc_id % 2 = 0 THEN 'LABEL' ELSE 'LEAN' END AS mode,
         CAST(doc_id AS VARCHAR) AS doc,
         n_chars AS triples,
         n_chars % 97 AS bnodes,
         CASE WHEN doc_id % 50 = 0 THEN -((n_chars % 1000) + 1)
              ELSE (n_chars * 7) % 100000 END AS runtime_ms
  FROM documents
"""


def q_corpus_summary(spark, sf):
    """A10 / AnalyseNQuadsResults.java:165-215: per-mode corpus totals
    with the ok/error split."""
    from blabel_spark.ops.analyse import corpus_summary
    return corpus_summary(_runs_view(spark, sf))


SQL_CORPUS_SUMMARY = f"""
SELECT mode,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN runtime_ms < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_errors,
       CAST(sum(CASE WHEN runtime_ms >= 0 THEN triples ELSE 0 END)
         AS BIGINT) AS ok_triples,
       CAST(sum(CASE WHEN runtime_ms >= 0 THEN bnodes ELSE 0 END)
         AS BIGINT) AS ok_bnodes,
       CAST(sum(CASE WHEN runtime_ms >= 0 THEN runtime_ms ELSE 0 END)
         AS BIGINT) AS ok_time_ms,
       CAST(sum(CASE WHEN runtime_ms < 0 THEN triples ELSE 0 END)
         AS BIGINT) AS err_triples,
       CAST(sum(CASE WHEN runtime_ms < 0 THEN -runtime_ms ELSE 0 END)
         AS BIGINT) AS err_time_ms
FROM ({_SQL_RUNS}) GROUP BY mode
"""


def q_runtime_histogram(spark, sf):
    """A10: per-mode runtime histogram over the reference's Binner edges
    (AnalyseNQuadsResults.java:26-28)."""
    from blabel_spark.ops.analyse import runtime_histogram
    return runtime_histogram(_runs_view(spark, sf))


SQL_RUNTIME_HIST = f"""
SELECT mode,
       CASE WHEN abs(runtime_ms) <= 9 THEN '0-9'
            WHEN abs(runtime_ms) <= 99 THEN '10-99'
            WHEN abs(runtime_ms) <= 999 THEN '100-999'
            WHEN abs(runtime_ms) <= 9999 THEN '1000-9999'
            WHEN abs(runtime_ms) <= 99999 THEN '10000-99999'
            WHEN abs(runtime_ms) <= 1000000 THEN '100000-1000000'
            ELSE '>1000000' END AS bin,
       CAST(count(*) AS BIGINT) AS n_docs
FROM ({_SQL_RUNS}) GROUP BY 1, 2
"""


def q_windowed_turn_counts(spark, sf):
    """§2.8/§2.9: tumbling-window event counts — the batch shape of the
    streaming windowed aggregation (streaming/sessions.py runs the same
    plan over readStream)."""
    e = load(spark, sf, "events")
    return (e.groupBy("event_type",
                      F.window("ts", "1 hour").getField("start")
                      .alias("window_start"))
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value")))


SQL_WINDOWED_TURNS = """
SELECT event_type,
       date_trunc('hour', ts) AS window_start,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(value) AS DOUBLE), 2) AS sum_value
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# training-data operators: dedup / similarity / text
# ---------------------------------------------------------------------------

def q_exact_dedup(spark, sf):
    from blabel_spark.ops.dedup import exact_duplicates
    return exact_duplicates(load(spark, sf, "documents"))


SQL_EXACT_DEDUP = """
SELECT md5(text) AS content_hash, count(*) AS n_docs,
       min(doc_id) AS keeper_doc_id
FROM documents GROUP BY md5(text) HAVING count(*) > 1
"""


# word-3-shingle signature CTE shared by the MinHash family oracles —
# char shingles degenerate to all-pairs on this small-vocabulary corpus
# (91% of C(n,2) at sf0.1), word shingles keep LSH selective
SQL_WORD_SIG_CTE = """
WITH words AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), w -> length(w) > 0) AS ws
  FROM documents
), allsh AS (
  SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS sh
  FROM (SELECT doc_id, ws,
               unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
        FROM words)
), sig AS (
  SELECT doc_id,
         min(md5('s0|' || sh)) AS h0, min(md5('s1|' || sh)) AS h1,
         min(md5('s2|' || sh)) AS h2, min(md5('s3|' || sh)) AS h3
  FROM allsh GROUP BY doc_id
)
"""


def q_minhash(spark, sf):
    from blabel_spark.ops.dedup import minhash_signatures
    return minhash_signatures(load(spark, sf, "documents"), n_hashes=4,
                              k=3, unit="word")


SQL_MINHASH = SQL_WORD_SIG_CTE + "SELECT doc_id, h0, h1, h2, h3 FROM sig"


def q_lsh_pairs(spark, sf):
    from blabel_spark.ops.dedup import lsh_candidate_pairs
    return (lsh_candidate_pairs(load(spark, sf, "documents"),
                                n_hashes=4, k=3, band_chars=4, unit="word")
            .groupBy().agg(F.count("*").alias("n_candidate_pairs")))


SQL_LSH_PAIRS = SQL_WORD_SIG_CTE + """
, bands AS (
  SELECT doc_id, 0 AS band_id, substr(h0, 1, 4) AS band_key FROM sig
  UNION ALL SELECT doc_id, 1, substr(h1, 1, 4) FROM sig
  UNION ALL SELECT doc_id, 2, substr(h2, 1, 4) FROM sig
  UNION ALL SELECT doc_id, 3, substr(h3, 1, 4) FROM sig
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
)
SELECT count(*) AS n_candidate_pairs FROM pairs
"""


def q_simhash(spark, sf):
    from blabel_spark.ops.dedup import simhash16
    return simhash16(load(spark, sf, "documents"))


def _sql_simhash() -> str:
    votes = []
    for j in range(16):
        nib_i, r = divmod(j, 4)
        nib = f"(strpos('{HEX}', substr(h, {nib_i + 1}, 1)) - 1)"
        bit = f"(({nib} // {2 ** (3 - r)}) % 2)"
        votes.append(
            f"sum(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END) AS v{j}")
    fp = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {2 ** j} ELSE 0 END)" for j in range(16))
    return f"""
WITH toks AS (
  SELECT doc_id, md5(tok) AS h
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents)
  WHERE length(tok) > 0
), votes AS (
  SELECT doc_id, {', '.join(votes)} FROM toks GROUP BY doc_id
)
SELECT doc_id, CAST({fp} AS INT) AS simhash FROM votes
"""


SQL_SIMHASH = _sql_simhash()


def q_dedup_clusters(spark, sf):
    """Near-dup cluster assignment (the dedup pipeline's final stage):
    connected components over a pair graph, keeper = min doc id.  The
    gate's pair graph chains consecutive docs within coarse simhash
    buckets, so the keeper can only be found by TRANSITIVE propagation
    through the chain — the property the CC loop must deliver."""
    from pyspark.sql import Window

    from blabel_spark.ops.dedup import dedup_clusters, simhash16
    sh = simhash16(load(spark, sf, "documents")) \
        .withColumn("g", F.pmod(F.col("simhash"), F.lit(256)))
    w = Window.partitionBy("g").orderBy("doc_id")
    pairs = (sh.withColumn("prev", F.lag("doc_id").over(w))
             .where(F.col("prev").isNotNull())
             .select(F.col("prev").alias("doc_a"),
                     F.col("doc_id").alias("doc_b")))
    return dedup_clusters(pairs)


def _sql_dedup_clusters() -> str:
    """Twin exploits the chain construction: a bucket's chain connects
    the whole bucket, so cluster keeper == bucket minimum."""
    sh = _sql_simhash().strip().rstrip()
    return f"""
WITH sh AS ({sh}),
b AS (SELECT doc_id, simhash % 256 AS g FROM sh),
grp AS (
  SELECT doc_id,
         min(doc_id) OVER (PARTITION BY g) AS keeper_doc_id,
         count(*) OVER (PARTITION BY g) AS n
  FROM b)
SELECT doc_id, keeper_doc_id FROM grp WHERE n >= 2
"""


SQL_DEDUP_CLUSTERS = _sql_dedup_clusters()


def q_scrub_pii(spark, sf):
    """PII scrubbing (emails/phones/IPv4 → typed placeholders + match
    counts) — map-only codegen pass; DuckDB twin runs the same RE2-class
    patterns, so the gate checks regex semantics parity across engines.
    Planted-PII behaviour is pinned in tests/test_textstats_pii.py."""
    from blabel_spark.ops.textstats import scrub_pii
    return scrub_pii(load(spark, sf, "documents"))


def _sql_scrub_pii() -> str:
    from blabel_spark.ops.textstats import PII_PATTERNS
    e, p, i = (PII_PATTERNS[k] for k in ("email", "phone", "ip"))
    return f"""
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(text,
           '{e}', '<EMAIL>', 'g'),
           '{p}', '<PHONE>', 'g'),
           '{i}', '<IP>', 'g') AS text_scrubbed,
       len(regexp_extract_all(text, '{e}')) AS n_email,
       len(regexp_extract_all(text, '{p}')) AS n_phone,
       len(regexp_extract_all(text, '{i}')) AS n_ip
FROM documents
"""


SQL_SCRUB_PII = _sql_scrub_pii()


def q_token_stats(spark, sf):
    from blabel_spark.ops.textstats import token_stats
    return token_stats(load(spark, sf, "documents"))


SQL_TOKEN_STATS = """
SELECT doc_id,
       length(text) AS n_chars,
       len(list_filter(string_split(text, ' '), t -> length(t) > 0))
         AS n_tokens,
       length(regexp_replace(text, '[^.!,?;:]', '', 'g')) AS n_punct,
       round(length(regexp_replace(text, '[^.!,?;:]', '', 'g'))
             / greatest(length(text), 1), 6) AS punct_ratio
FROM documents
"""


def q_lang_id(spark, sf):
    from blabel_spark.ops.textstats import lang_id
    return lang_id(load(spark, sf, "documents"))


def _sql_count_occ(word: str) -> str:
    pad = "' ' || text || ' '"
    return (f"CAST((length({pad}) - length(replace({pad}, ' {word} ', '')))"
            f" // {len(word) + 2} AS INT)")


def _sql_lang_id() -> str:
    from blabel_spark.ops.textstats import LANG_STOPWORDS
    scores = {lang: " + ".join(_sql_count_occ(w) for w in words)
              for lang, words in LANG_STOPWORDS.items()}
    return f"""
SELECT doc_id,
       CASE WHEN ({scores['en']}) >= ({scores['es']})
             AND ({scores['en']}) >= ({scores['fr']}) THEN 'en'
            WHEN ({scores['es']}) >= ({scores['fr']}) THEN 'es'
            ELSE 'fr' END AS lang_pred,
       ({scores['en']}) AS score_en,
       ({scores['es']}) AS score_es,
       ({scores['fr']}) AS score_fr
FROM documents
"""


SQL_LANG_ID = _sql_lang_id()


def q_fingerprint(spark, sf):
    from blabel_spark.ops.textstats import fingerprint
    return fingerprint(load(spark, sf, "documents"), k=8)


SQL_FINGERPRINT = """
SELECT doc_id,
       md5((SELECT min(md5(substr(text, i, 8)))
            FROM (SELECT unnest(generate_series(1,
                    greatest(length(text) - 7, 1))) AS i))
           || '|' || CAST(length(text) AS VARCHAR)) AS fingerprint
FROM documents
"""


def q_quality_score(spark, sf):
    from blabel_spark.ops.textstats import quality_score
    return quality_score(load(spark, sf, "documents"))


def _sql_quality() -> str:
    stops = " + ".join(_sql_count_occ(w) for w in ["the", "a", "and"])
    return f"""
WITH stats AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), t -> length(t) > 0))
           AS n_tokens,
         round(length(regexp_replace(text, '[^.!,?;:]', '', 'g'))
               / greatest(length(text), 1), 6) AS punct_ratio,
         ({stops}) AS n_stopwords
  FROM documents
)
SELECT doc_id,
       round(least(n_tokens / 100.0, 1.0) * 0.5
             + round(n_stopwords / greatest(n_tokens, 1), 6) * 0.3
             + (1.0 - least(punct_ratio * 10, 1.0)) * 0.2, 6) AS quality
FROM stats
"""


SQL_QUALITY = _sql_quality()


def q_ngram_jaccard(spark, sf):
    """Jaccard verification of the LSH candidate pairs (dedup op family).

    Word 3-shingles + 16-bit band keys: the driver corpus is random bags
    over a ~40-word vocabulary, so char shingles collide on every frequent
    substring and the candidate set degenerates to all-pairs — word
    shingles keep candidates ≪ C(n,2), the only shape that scales (the
    property is asserted in tests/test_dedup_scale.py).  Signatures are
    computed once and shared between banding and verification."""
    from blabel_spark.ops.dedup import (
        lsh_candidate_pairs, minhash_signatures, ngram_jaccard)
    docs = load(spark, sf, "documents")
    sig = minhash_signatures(docs, n_hashes=4, k=3, unit="word")
    pairs = lsh_candidate_pairs(docs, n_hashes=4, k=3, band_chars=4,
                                signatures=sig)
    return ngram_jaccard(docs, pairs, k=3, unit="word")


SQL_NGRAM_JACCARD = """
WITH words AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), w -> length(w) > 0) AS ws
  FROM documents
), allsh AS (
  SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS sh
  FROM (SELECT doc_id, ws,
               unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
        FROM words)
), sig AS (
  SELECT doc_id,
         min(md5('s0|' || sh)) AS h0, min(md5('s1|' || sh)) AS h1,
         min(md5('s2|' || sh)) AS h2, min(md5('s3|' || sh)) AS h3
  FROM allsh GROUP BY doc_id
), bands AS (
  SELECT doc_id, 0 AS band_id, substr(h0, 1, 4) AS band_key FROM sig
  UNION ALL SELECT doc_id, 1, substr(h1, 1, 4) FROM sig
  UNION ALL SELECT doc_id, 2, substr(h2, 1, 4) FROM sig
  UNION ALL SELECT doc_id, 3, substr(h3, 1, 4) FROM sig
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
), shingles AS (
  SELECT DISTINCT doc_id, sh FROM allsh
), counts AS (
  SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id
), inter AS (
  SELECT p.doc_a, p.doc_b, count(*) AS n_inter
  FROM pairs p
  JOIN shingles sa ON sa.doc_id = p.doc_a
  JOIN shingles sb ON sb.doc_id = p.doc_b AND sa.sh = sb.sh
  GROUP BY p.doc_a, p.doc_b
)
SELECT p.doc_a, p.doc_b,
       coalesce(i.n_inter, 0) AS n_inter,
       round(coalesce(i.n_inter, 0)
             / (ca.n + cb.n - coalesce(i.n_inter, 0)), 6) AS jaccard
FROM pairs p
LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
JOIN counts ca ON ca.doc_id = p.doc_a
JOIN counts cb ON cb.doc_id = p.doc_b
"""


GATE_ND_BITS, GATE_ND_TABLES = 4, 3


def q_embedding_near_dups(spark, sf):
    """Embedding-cosine near-duplicate pairs (the fifth dedup modality):
    banded sign-LSH candidates (AND within a table, OR across tables),
    exact cosine verify — never all-pairs.  DuckDB twin replicates all
    seeded hyperplane tables, so the gate checks the multi-table
    bucketing AND the cosine arithmetic."""
    from blabel_spark.ops.dedup import embedding_near_dups
    # the synthetic embeddings are spread (no true near-dups, max
    # same-bucket cosine ~0.49 at sf0.01), so the gate runs a
    # small-bucket multi-table config with a low threshold to yield a
    # real result set — the operator semantics are what is checked; the
    # scale operating point (16 bits x 12 tables) is exercised with
    # planted pairs in tests/test_dedup_scale.py
    return embedding_near_dups(load(spark, sf, "embeddings"),
                               threshold=0.3, n_bits=GATE_ND_BITS,
                               n_tables=GATE_ND_TABLES)


def _sql_embedding_near_dups() -> str:
    from blabel_spark.ops.similarity import projection_matrix
    tbl_exprs = []
    for t in range(GATE_ND_TABLES):
        W = projection_matrix(dim=64, n_bits=GATE_ND_BITS, seed=42 + t)
        bits = []
        for i in range(GATE_ND_BITS):
            arr = "[" + ", ".join(repr(float(x)) for x in W[i]) + "]"
            bits.append(
                "CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
                f"{arr}) >= 0 THEN '1' ELSE '0' END")
        tbl_exprs.append(f"concat({', '.join(bits)}) AS b{t}")
    any_table = " OR ".join(f"a.b{t} = c.b{t}"
                            for t in range(GATE_ND_TABLES))
    return f"""
WITH b AS (
  SELECT vec_id, embedding, {', '.join(tbl_exprs)}
  FROM embeddings
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b,
         a.embedding AS ea, c.embedding AS eb
  FROM b a JOIN b c ON a.vec_id < c.vec_id AND ({any_table})
)
SELECT id_a, id_b,
       round(list_cosine_similarity(CAST(ea AS DOUBLE[]),
                                    CAST(eb AS DOUBLE[])), 4) AS sim
FROM cand
WHERE round(list_cosine_similarity(CAST(ea AS DOUBLE[]),
                                   CAST(eb AS DOUBLE[])), 4) >= 0.3
"""


SQL_EMBEDDING_NEAR_DUPS = _sql_embedding_near_dups()


def q_knn_brute(spark, sf):
    from blabel_spark.ops.similarity import brute_force_topk
    return brute_force_topk(load(spark, sf, "embeddings"),
                            query_vec_id=0, k=10)


SQL_KNN = """
SELECT e.vec_id, e.label,
       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                    CAST(q.embedding AS DOUBLE[])), 4) AS sim
FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
WHERE e.vec_id <> 0
ORDER BY sim DESC, e.vec_id ASC
LIMIT 10
"""


def q_ann_multitable(spark, sf):
    """OR-amplified multi-table Gaussian LSH ANN (12 tables × 3 bits —
    the operating point that reaches recall@10 ≥ 0.9 on this corpus, see
    tests/test_similarity.py)."""
    from blabel_spark.ops.similarity import multitable_lsh_topk
    return multitable_lsh_topk(load(spark, sf, "embeddings"),
                               query_vec_id=0, k=10, n_bits=3, n_tables=12)


def _sql_ann_multitable() -> str:
    """DuckDB twin: same seeded hyperplanes, same candidate filter, same
    cosine ranking."""
    from blabel_spark.ops.similarity import projection_matrix
    table_conds = []
    for t in range(12):
        W = projection_matrix(dim=64, n_bits=3, seed=42 + t)
        bits_e = []
        bits_q = []
        for i in range(3):
            arr = "[" + ", ".join(repr(float(x)) for x in W[i]) + "]"
            bits_e.append("(list_dot_product(CAST(e.embedding AS DOUBLE[]), "
                          f"{arr}) >= 0)")
            bits_q.append("(list_dot_product(CAST(q.embedding AS DOUBLE[]), "
                          f"{arr}) >= 0)")
        table_conds.append(
            "(" + " AND ".join(f"{a} = {b}"
                               for a, b in zip(bits_e, bits_q)) + ")")
    cond = "\n    OR ".join(table_conds)
    return f"""
SELECT e.vec_id, e.label,
       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                    CAST(q.embedding AS DOUBLE[])), 4) AS sim
FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
WHERE e.vec_id <> 0
  AND ({cond})
ORDER BY sim DESC, e.vec_id ASC
LIMIT 10
"""


SQL_ANN_MULTITABLE = _sql_ann_multitable()


GATE_AB_BITS, GATE_AB_TABLES, GATE_AB_K, GATE_AB_NQ = 4, 3, 5, 20


def q_ann_batch(spark, sf):
    """Batch ANN: top-k for a TABLE of queries (the first 20 stored
    vectors) via one bucket equi-join + one per-query window rank — no
    driver collect proportional to query count (ops.similarity.
    lsh_topk_many; the single-query paths fetch their one row to the
    driver, which cannot serve a query table)."""
    from blabel_spark.ops.similarity import lsh_topk_many
    emb = load(spark, sf, "embeddings")
    queries = (emb.where(F.col("vec_id") < GATE_AB_NQ)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("qvec")))
    return lsh_topk_many(emb, queries, k=GATE_AB_K, n_bits=GATE_AB_BITS,
                         n_tables=GATE_AB_TABLES)


def _sql_ann_batch() -> str:
    """DuckDB twin: same seeded tables; queries ⊆ embeddings so one
    bucket CTE serves both sides of the candidate join."""
    from blabel_spark.ops.similarity import projection_matrix
    keyed_parts = []
    for t in range(GATE_AB_TABLES):
        W = projection_matrix(dim=64, n_bits=GATE_AB_BITS, seed=42 + t)
        bits = []
        for i in range(GATE_AB_BITS):
            arr = "[" + ", ".join(repr(float(x)) for x in W[i]) + "]"
            bits.append(
                "CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
                f"{arr}) >= 0 THEN '1' ELSE '0' END")
        keyed_parts.append(
            f"SELECT vec_id, label, embedding, {t} AS table_id, "
            f"concat({', '.join(bits)}) AS bucket FROM embeddings")
    keyed = "\nUNION ALL\n".join(keyed_parts)
    return f"""
WITH keyed AS (
{keyed}
), cand AS (
  SELECT DISTINCT q.vec_id AS query_id, q.embedding AS qvec,
         d.vec_id, d.label, d.embedding AS dvec
  FROM keyed q JOIN keyed d
    ON q.table_id = d.table_id AND q.bucket = d.bucket
  WHERE q.vec_id < {GATE_AB_NQ} AND q.vec_id <> d.vec_id
), scored AS (
  SELECT query_id, vec_id, label,
         round(list_cosine_similarity(CAST(qvec AS DOUBLE[]),
                                      CAST(dvec AS DOUBLE[])), 4) AS sim
  FROM cand
), ranked AS (
  SELECT query_id, vec_id, label, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, label, sim, rank FROM ranked
WHERE rank <= {GATE_AB_K}
"""


SQL_ANN_BATCH = _sql_ann_batch()


def q_lsh_bucket_stats(spark, sf):
    from blabel_spark.ops.similarity import bucket_stats
    return bucket_stats(load(spark, sf, "embeddings"), n_bits=6)


def _sql_bucket_stats() -> str:
    """Twin of ops.similarity.sign_lsh_buckets: the same seeded Gaussian
    hyperplanes as DuckDB literal arrays."""
    from blabel_spark.ops.similarity import projection_matrix
    W = projection_matrix(dim=64, n_bits=6, seed=42)
    bits = []
    for i in range(6):
        arr = "[" + ", ".join(repr(float(x)) for x in W[i]) + "]"
        bits.append(
            "CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
            f"{arr}) >= 0 THEN '1' ELSE '0' END")
    return f"""
SELECT concat({', '.join(bits)}) AS bucket,
       count(*) AS n_vecs, count(DISTINCT label) AS n_labels
FROM embeddings GROUP BY 1
"""


SQL_BUCKET_STATS = _sql_bucket_stats()


def q_dedup_keepers(spark, sf):
    """Quality-aware keeper per near-dup cluster: the same transitive
    cluster construction as q_dedup_clusters, then the keeper is the
    BEST-quality member (tie-break min doc id) instead of the min id —
    what a production dedup actually keeps.  Exercises dedup_clusters →
    quality_score → select_keepers composed end-to-end."""
    from blabel_spark.ops.dedup import (dedup_clusters, select_keepers,
                                        simhash16)
    from blabel_spark.ops.textstats import quality_score
    docs = load(spark, sf, "documents")
    sh = simhash16(docs).withColumn("g", F.pmod(F.col("simhash"),
                                                F.lit(256)))
    w = Window.partitionBy("g").orderBy("doc_id")
    pairs = (sh.withColumn("prev", F.lag("doc_id").over(w))
             .where(F.col("prev").isNotNull())
             .select(F.col("prev").alias("doc_a"),
                     F.col("doc_id").alias("doc_b")))
    return select_keepers(dedup_clusters(pairs), quality_score(docs))


def _sql_dedup_keepers() -> str:
    """Twin: bucket == cluster (the chain construction), cluster id =
    bucket min (the CC keeper), keeper = argmax quality via the same
    deterministic (quality DESC, doc_id ASC) order."""
    sh = _sql_simhash().strip()
    quality = _sql_quality().strip()
    return f"""
WITH sh AS ({sh}),
b AS (SELECT doc_id, simhash % 256 AS g FROM sh),
grp AS (
  SELECT doc_id,
         min(doc_id) OVER (PARTITION BY g) AS cluster_id,
         count(*) OVER (PARTITION BY g) AS n
  FROM b),
mem AS (SELECT doc_id, cluster_id FROM grp WHERE n >= 2),
q AS ({quality}),
scored AS (
  SELECT mem.doc_id, mem.cluster_id, q.quality
  FROM mem JOIN q ON mem.doc_id = q.doc_id),
k AS (
  SELECT doc_id, cluster_id,
         first_value(doc_id) OVER (
           PARTITION BY cluster_id
           ORDER BY quality DESC, doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS keeper_doc_id
  FROM scored)
SELECT doc_id, cluster_id, keeper_doc_id,
       doc_id = keeper_doc_id AS keep
FROM k
"""


SQL_DEDUP_KEEPERS = _sql_dedup_keepers()

# gate operating point for the deterministic per-source sampler: one
# stratum at rate 1.0 (exercises the exact keep-all bypass), two partial
# strata, a default for the long tail of sources
SAMPLE_RATES = {"src0": 0.8, "src1": 0.5, "src2": 1.0}
SAMPLE_DEFAULT = 0.1


def q_stratified_sample(spark, sf):
    """Deterministic per-source subsample (corpus mixing): md5-keyed
    keep decision, map-only, reproducible across engines / runs /
    cluster sizes — the DuckDB twin runs the identical arithmetic and
    must select the exact same rows."""
    from blabel_spark.ops.sampling import stratified_sample
    docs = load(spark, sf, "documents")
    return (stratified_sample(docs, SAMPLE_RATES,
                              default_rate=SAMPLE_DEFAULT)
            .select("doc_id", "source"))


def _sql_stratified_sample() -> str:
    from blabel_spark.ops.sampling import stratified_sample_sql
    pred = stratified_sample_sql(SAMPLE_RATES, default_rate=SAMPLE_DEFAULT)
    return f"SELECT doc_id, source FROM documents WHERE {pred}"


SQL_STRATIFIED_SAMPLE = _sql_stratified_sample()


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# oracles whose expected values are precomputed at the driver's gate scale
# (sf0.01, tools/gen_flagship_oracles.py); at any other sf the local
# harness degrades them to a rows-run-only check
SF_PINNED_ORACLES = {"canonical_label_values", "lean_graphs",
                     "transcript_kg_pipeline"}

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # blabel core (SURVEY §2)
    "ground_filter": q_ground_filter,                 # P2
    "bnode_positions": q_bnode_positions,             # P3
    "pred_cardinality": q_pred_cardinality,           # A6
    "distinct_bnodes": q_distinct_bnodes,             # A8
    "wl_refinement_round": q_wl_round,                # J1+A1 skeleton
    "wl_class_sizes": q_wl_class_sizes,               # A2
    "connected_components": q_connected_components,   # J4
    "graph_dup_census": q_graph_dup_census,           # A9+A5
    "canonical_sort": q_canonical_sort,               # O1+U1
    "trivial_nonlean": q_trivial_nonlean,             # J5 skeleton
    "canonical_labels": q_canonical_labels,           # full engine census
    "canonical_label_values": q_canonical_label_values,  # bit-exact labels
    "lean_graphs": q_lean_graphs,                     # §3.2 leaning
    "transcript_kg_pipeline": q_transcript_kg,        # north-star E2E
    # relational parity
    "pricing_summary": q_pricing_summary,             # A10
    "customer_nation_rollup": q_customer_nation_rollup,  # J3 + broadcast
    "top_revenue_orders": q_top_revenue_orders,       # O8 top-k
    "anti_join_parts": q_anti_join_parts,             # P4
    "semi_join_suppliers": q_semi_join_suppliers,     # J6
    "event_histogram": q_event_histogram,             # A10 bins
    "user_first_event": q_user_first_event,           # window
    "sessionize": q_sessionize,                       # window lag+cumsum
    "max_by_event": q_max_by_event,                   # O7
    "corpus_summary": q_corpus_summary,               # A10 analyse
    "runtime_histogram": q_runtime_histogram,         # A10 Binner
    "windowed_turn_counts": q_windowed_turn_counts,   # §2.8 window
    # training-data ops
    "exact_dedup": q_exact_dedup,
    "minhash_signatures": q_minhash,
    "lsh_candidate_pairs": q_lsh_pairs,
    "simhash": q_simhash,
    "dedup_clusters": q_dedup_clusters,
    "scrub_pii": q_scrub_pii,
    "token_stats": q_token_stats,
    "lang_id": q_lang_id,
    "quality_score": q_quality_score,
    "ngram_jaccard": q_ngram_jaccard,
    "embedding_near_dups": q_embedding_near_dups,
    "doc_fingerprint": q_fingerprint,
    "knn_brute_force": q_knn_brute,
    "ann_multitable": q_ann_multitable,
    "ann_batch": q_ann_batch,
    "lsh_bucket_stats": q_lsh_bucket_stats,
    "dedup_keepers": q_dedup_keepers,
    "stratified_sample": q_stratified_sample,
}

ORACLES: dict[str, str] = {
    "ground_filter": SQL_GROUND,
    "bnode_positions": SQL_BNODE_POS,
    "pred_cardinality": SQL_PRED_CARD,
    "distinct_bnodes": SQL_DISTINCT_B,
    "wl_refinement_round": SQL_WL_ROUND,
    "wl_class_sizes": SQL_WL_CLASSES,
    "connected_components": SQL_CC,
    "graph_dup_census": SQL_DUP_CENSUS,
    "canonical_sort": SQL_CANON_SORT,
    "trivial_nonlean": SQL_NONLEAN,
    # flagship oracles: canonical_labels checks the injective-labelling
    # invariant in live SQL; the other three compare against outputs
    # precomputed by the independent local oracles (canon.local /
    # lean.local / datagen ground truth) — tools/gen_flagship_oracles.py
    "canonical_labels": SQL_CANONICAL_LABELS,
    "canonical_label_values": _fo.SQL_CANON_LABEL_VALUES,
    "lean_graphs": _fo.SQL_LEAN_GRAPHS,
    "transcript_kg_pipeline": _fo.SQL_TRANSCRIPT_KG,
    "pricing_summary": SQL_PRICING,
    "customer_nation_rollup": SQL_CUST_NATION,
    "top_revenue_orders": SQL_TOP_REVENUE,
    "anti_join_parts": SQL_ANTI_PARTS,
    "semi_join_suppliers": SQL_SEMI_SUPP,
    "event_histogram": SQL_EVENT_HIST,
    "user_first_event": SQL_FIRST_EVENT,
    "sessionize": SQL_SESSIONIZE,
    "max_by_event": SQL_MAX_BY,
    "corpus_summary": SQL_CORPUS_SUMMARY,
    "runtime_histogram": SQL_RUNTIME_HIST,
    "windowed_turn_counts": SQL_WINDOWED_TURNS,
    "exact_dedup": SQL_EXACT_DEDUP,
    "minhash_signatures": SQL_MINHASH,
    "lsh_candidate_pairs": SQL_LSH_PAIRS,
    "simhash": SQL_SIMHASH,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    "scrub_pii": SQL_SCRUB_PII,
    "token_stats": SQL_TOKEN_STATS,
    "lang_id": SQL_LANG_ID,
    "quality_score": SQL_QUALITY,
    "ngram_jaccard": SQL_NGRAM_JACCARD,
    "embedding_near_dups": SQL_EMBEDDING_NEAR_DUPS,
    "doc_fingerprint": SQL_FINGERPRINT,
    "knn_brute_force": SQL_KNN,
    "ann_multitable": SQL_ANN_MULTITABLE,
    "ann_batch": SQL_ANN_BATCH,
    "lsh_bucket_stats": SQL_BUCKET_STATS,
    "dedup_keepers": SQL_DEDUP_KEEPERS,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
}

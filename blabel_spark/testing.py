"""Corpus-mode metamorphic TEST harness — the Spark-native counterpart of
the reference's ``RunNQuadsTest -b TEST`` (cli/RunNQuadsTest.java:362-425
driving test/TestFramework.java).

Per document the reference builds ``DEFAULT_SHUFFLES = 4`` variants
(TestFramework.java:449): the original plus seeded bnode-renamed+shuffled
copies (TestFramework.renameBnodesAndShuffle:330-359), runs every variant
through its labelling/leaning algorithm matrix, and reports one
``TEST<tab>doc ... OKAY|ERROR`` row — ERROR when the canonical forms
partition into more than one equivalence class, a core map is not a valid
homomorphism, or a hash collision was detected.

The Spark shape differs deliberately: instead of a per-document loop, ALL
documents × variants are processed in single corpus-wide jobs —

* variants are generated by a pure-codegen bnode rename (seeded xxhash64;
  row shuffling is a no-op for set-semantic DataFrames and is therefore
  not performed);
* the labelling legs are the engine's two independent execution routes
  (per-graph kernel vs distributed fixpoint) — route parity on every
  variant is this engine's analogue of the reference's prune/no-prune
  algorithm pair (its five-config DFS matrix lives in tests/test_lean.py);
* the leaning legs are lean→label at depth 1 and depth 2 (idempotence,
  TestFramework.testLeanAndLabel's recursion at TestFramework.java:288)
  plus the core-map homomorphism check (testMapping:294-302);
* canonical forms are compared by an order-insensitive 2×40-bit lane sum
  over per-triple hashes plus the triple count — all codegen, no collect
  larger than the per-document report.

Corpus-mode caveat: per-document wall time does not exist when the corpus
runs as one distributed job, so the TSV carries runtime 0 for OKAY rows
and -1 for ERROR rows — the sign convention is what
``ops.analyse.read_bench_tsv`` keys its error split on
(RunNQuadsTest.java:296-320 writes negative runtimes on failure).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blabel_spark import ckpt_util

SEPV = "\x01v"  # composite graph id separator: <doc>\x01v<variant>
_LANE_MOD = 1 << 40  # lane sums over <2^20 triples stay far from overflow


def corpus_variants(triples: DataFrame, shuffles: int = 4,
                    seed: int = 7) -> DataFrame:
    """All documents × ``shuffles`` variants in one codegen pass.

    Variant 0 is the original; variant i>0 renames every blank node to
    ``_:b<xxhash64(seed, doc, i, name)>`` — deterministic (restart-safe)
    where the reference draws ``b<random int>`` names
    (TestFramework.renameBnodesAndShuffle:330-359).  The variant id is
    folded into the graph id so every downstream engine call treats each
    variant as an independent document.
    """
    vids = F.explode(
        F.sequence(F.lit(0), F.lit(shuffles - 1))).alias("v")
    base = triples.select("graph_id", "subj", "pred", "obj").select(
        "*", vids)

    def ren(c: str):
        isb = F.col(c).startswith("_:")
        h = F.abs(F.xxhash64(F.lit(seed), F.col("graph_id"),
                             F.col("v"), F.col(c)))
        return F.when(isb & (F.col("v") > 0),
                      F.concat(F.lit("_:b"), h.cast("string"))) \
                .otherwise(F.col(c)).alias(c)

    return base.select(
        F.concat("graph_id", F.lit(SEPV), F.col("v").cast("string"))
        .alias("graph_id"),
        ren("subj"), "pred", ren("obj"))


def _form_hashes(labelled: DataFrame) -> DataFrame:
    """(doc, f0, f1, nt) canonical-form fingerprint per composite graph:
    order-insensitive lane sums over the distinct labelled triples (set
    semantics — duplicate rows collapse first), plus the triple count as
    a collision guard."""
    t = F.concat_ws("\x02", "subj", "pred", "obj")
    per = (labelled.select(
        "graph_id",
        F.pmod(F.xxhash64(F.lit(3), t), F.lit(_LANE_MOD)).alias("x0"),
        F.pmod(F.xxhash64(F.lit(4), t), F.lit(_LANE_MOD)).alias("x1"))
        .dropDuplicates())
    return (per.groupBy("graph_id")
            .agg(F.sum("x0").alias("f0"), F.sum("x1").alias("f1"),
                 F.count("*").alias("nt"))
            .select(F.split("graph_id", SEPV).getItem(0).alias("doc"),
                    "f0", "f1", "nt"))


def _partition_counts(forms: DataFrame, out: str) -> DataFrame:
    """Number of distinct canonical forms per document across all its
    variant×leg rows — the reference's ``labellingComparisons.size()``
    (must be 1 for OKAY)."""
    return forms.groupBy("doc").agg(
        F.countDistinct("f0", "f1", "nt").alias(out))


def metamorphic_report(spark: SparkSession, triples: DataFrame, *,
                       shuffles: int = 4, lean: bool = True,
                       seed: int = 7,
                       variants: DataFrame | None = None) -> DataFrame:
    """Per-document TEST report over an N-Quads corpus.

    Returns (doc, triples, bnodes, label_partitions, lean_partitions,
    mapping_failures, exceptions, status) — status ``OKAY`` iff every
    partition count is 1 and no mapping failure/exception occurred.
    ``variants`` overrides the generated variant table (used by the
    ERROR-injection tests; normal callers leave it None).
    """
    from blabel_spark.canon.distributed import canonicalize

    tri = triples.select("graph_id", "subj", "pred", "obj")
    var = ckpt_util.checkpoint(corpus_variants(tri, shuffles, seed)
                               if variants is None else variants)

    # per-document size stats from the originals
    isb = lambda c: F.col(c).startswith("_:")  # noqa: E731
    stats = (tri.groupBy(F.col("graph_id").alias("doc"))
             .agg(F.count("*").alias("triples"),
                  F.size(F.array_distinct(F.flatten(F.collect_list(
                      F.concat(
                          F.when(isb("subj"), F.array("subj"))
                          .otherwise(F.array()),
                          F.when(isb("obj"), F.array("obj"))
                          .otherwise(F.array()))))))
                  .alias("bnodes")))

    # --- labelling legs: both engine routes over every variant ---------
    lab_forms = _form_hashes(
        canonicalize(spark, var, route="by_graph").labelled).union(
        _form_hashes(canonicalize(spark, var, route="fixpoint").labelled))
    label_parts = _partition_counts(lab_forms, "label_partitions")

    rep = stats.join(label_parts, "doc", "left")

    if lean:
        from blabel_spark.lean.distributed import lean_graphs
        lean1, wit1 = lean_graphs(spark, var)
        lean1 = ckpt_util.checkpoint(lean1)
        lean2, wit2 = lean_graphs(spark, lean1)
        lean_forms = _form_hashes(
            canonicalize(spark, lean1).labelled).union(
            _form_hashes(canonicalize(spark, lean2).labelled))
        lean_parts = _partition_counts(lean_forms, "lean_partitions")

        # exceptions: budget-exceeded sentinel rows from either depth —
        # a depth-2 exceedance leaves lean2 == lean1 (a valid partial
        # result) and must surface as OKAY\tPARTIAL, so wit2's sentinels
        # count too
        sent = lambda w: w.where(  # noqa: E731
            F.col("bnode") == "__budget_exceeded__").select(
            F.split("graph_id", SEPV).getItem(0).alias("doc"))
        exc = (sent(wit1).union(sent(wit2))
               .groupBy("doc").agg(F.count("*").alias("exceptions")))

        # core-map homomorphism check (TestFramework.testMapping): the
        # witness applied to the variant's own triples must land inside
        # its lean core
        wit_map = wit1.where(F.col("bnode") != "__budget_exceeded__")
        sm = wit_map.select(F.col("graph_id").alias("_sg"),
                            F.col("bnode").alias("_sb"),
                            F.col("target").alias("_st"))
        om = wit_map.select(F.col("graph_id").alias("_og"),
                            F.col("bnode").alias("_ob"),
                            F.col("target").alias("_ot"))
        mapped = (var.join(sm, on=[F.col("graph_id") == F.col("_sg"),
                                   F.col("subj") == F.col("_sb")],
                           how="left").drop("_sg", "_sb")
                  .join(om, on=[F.col("graph_id") == F.col("_og"),
                                F.col("obj") == F.col("_ob")],
                        how="left").drop("_og", "_ob")
                  .select("graph_id",
                          F.coalesce("_st", "subj").alias("subj"), "pred",
                          F.coalesce("_ot", "obj").alias("obj")))
        stray = (mapped.join(lean1, ["graph_id", "subj", "pred", "obj"],
                             "left_anti")
                 .select(F.split("graph_id", SEPV).getItem(0).alias("doc"))
                 .groupBy("doc").agg(F.count("*").alias("mapping_failures")))
        rep = (rep.join(lean_parts, "doc", "left")
               .join(stray, "doc", "left")
               .join(exc, "doc", "left"))
    else:
        rep = rep.withColumn("lean_partitions", F.lit(None).cast("long")) \
                 .withColumn("mapping_failures", F.lit(None).cast("long")) \
                 .withColumn("exceptions", F.lit(None).cast("long"))

    rep = rep.na.fill({"label_partitions": 1, "lean_partitions": 1,
                       "mapping_failures": 0, "exceptions": 0})
    ok = ((F.col("label_partitions") <= 1)
          & (F.col("lean_partitions") <= 1)
          & (F.col("mapping_failures") == 0))
    return rep.withColumn(
        "status",
        F.when(ok & (F.col("exceptions") > 0), "OKAY\tPARTIAL")
        .when(ok, "OKAY").otherwise("ERROR"))


def to_test_tsv(report: DataFrame) -> DataFrame:
    """Reference-format TSV lines: ``TEST doc triples bnodes runtime
    status [detail…]`` (RunNQuadsTest.java:385-415).  Corpus-mode runtime
    convention: 0 for OKAY, -1 for ERROR (see module docstring)."""
    rt = F.when(F.col("status").startswith("OKAY"), F.lit(0)) \
          .otherwise(F.lit(-1))
    detail = F.when(
        F.col("status") == "ERROR",
        F.concat(
            F.when(F.col("label_partitions") > 1,
                   F.concat(F.lit("\tLABELLING_PARTITION_SIZE\t"),
                            F.col("label_partitions").cast("string")))
            .otherwise(F.lit("")),
            F.when(F.col("lean_partitions") > 1,
                   F.concat(F.lit("\tLEANING_PARTITION_SIZE\t"),
                            F.col("lean_partitions").cast("string")))
            .otherwise(F.lit("")),
            F.when(F.col("mapping_failures") > 0,
                   F.concat(F.lit("\tMAPPING_FAILURES\t"),
                            F.col("mapping_failures").cast("string")))
            .otherwise(F.lit("")))).otherwise(F.lit(""))
    head = F.concat_ws(
        "\t", F.lit("TEST"), "doc",
        F.col("triples").cast("string"), F.col("bnodes").cast("string"),
        rt.cast("string"), "status")
    return report.select(F.concat(head, detail).alias("value"))

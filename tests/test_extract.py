"""Extraction pipeline tests: P/R vs ground truth, text-equality invariant,
detector vs Python regex, end-to-end extract→canonicalize."""

import re

from pyspark.sql import functions as F

from blabel_spark.datagen import gazetteer, transcripts_df
from blabel_spark.extract.pipeline import (
    MENTION_PATTERN,
    detect_mentions,
    extract_triples,
    normalize_turns,
)


def test_text_equality_invariant(spark):
    """Per-turn text must survive normalization byte-identical under stable
    (conv_id, turn_idx) ordering (BASELINE.json input_hint)."""
    tdf, _ = transcripts_df(spark, seed=1, n_convs=20)
    out = normalize_turns(tdf)
    j = (tdf.alias("a").join(out.alias("b"), ["conv_id", "turn_idx"])
         .where(F.col("a.text") != F.col("b.text")))
    assert j.count() == 0
    assert out.count() == tdf.count()  # no dup turns in generator output


def test_precision_recall_vs_ground_truth(spark):
    tdf, truth = transcripts_df(spark, seed=42, n_convs=150)
    got = extract_triples(spark, tdf, gazetteer())
    expect = (truth.select(F.col("conv_id").alias("graph_id"),
                           "subj", "pred", "obj").dropDuplicates())
    n_got, n_expect = got.count(), expect.count()
    n_both = got.join(expect, ["graph_id", "subj", "pred", "obj"]).count()
    precision = n_both / n_got
    recall = n_both / n_expect
    assert precision >= 0.95, precision
    assert recall >= 0.95, recall
    # the grammar is deterministic, so on this corpus it is in fact exact
    assert precision == 1.0 and recall == 1.0


def test_jvm_detector_matches_python_regex(spark):
    """The codegen detector recovers exactly the capture groups of
    ``re.findall(MENTION_PATTERN, text)`` over the same turns."""
    tdf, _ = transcripts_df(spark, seed=7, n_convs=30)
    turns = normalize_turns(tdf)
    cols = ["conv_id", "turn_idx", "subj_surface", "rel", "obj_surface"]
    got = sorted(map(tuple, detect_mentions(turns).select(cols).collect()))
    want = sorted((r["conv_id"], r["turn_idx"], *m)
                  for r in turns.select("conv_id", "turn_idx", "text")
                  .collect()
                  for m in re.findall(MENTION_PATTERN, r["text"] or ""))
    assert want and got == want


def test_distractors_not_extracted(spark):
    rows = [("c0", 0, "user",
             "alice works at acme. Bob maybe-knows Carol. Paris is large.",
             "", None)]
    tdf = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    assert detect_mentions(tdf).count() == 0


def test_extract_then_canonicalize_end_to_end(spark):
    """Flagship path: transcripts → triples → canonical labels.  Same
    conversation content under different conv_ids must yield identical
    canonical triple sets (upg muxes only graph content, not ids)."""
    from blabel_spark.canon.distributed import canonicalize
    rows = [
        ("cA", 0, "user", "Alice works at Acme. Alice knows Bob.", "", None),
        ("cA", 1, "assistant", "Bob lives in Paris.", "", None),
        ("cB", 0, "user", "Alice works at Acme. Alice knows Bob.", "", None),
        ("cB", 1, "assistant", "Bob lives in Paris.", "", None),
    ]
    tdf = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    triples = extract_triples(spark, tdf, gazetteer())
    res = canonicalize(spark, triples)
    out = {}
    for r in res.labelled.collect():
        out.setdefault(r.graph_id, set()).add((r.subj, r.pred, r.obj))
    assert out["cA"] == out["cB"]
    # bnodes got SK00 labels, IRIs untouched
    labels = {r.label for r in res.labels.collect()}
    assert all(l.startswith("_:SK00") for l in labels)
    assert any("<ent:org/acme>" in str(t) for t in out["cA"])

"""Transcript → triple extraction (stages E1–E4 of SURVEY.md §7.0).

The reference repo is a canonicalization library with no extraction stage;
this module is the pipeline front-end the north_star specifies: batched
mention detection and entity-link scoring over multi-turn transcripts,
emitting (subj, pred, obj) triples whose blank nodes the canonicalizer
(canon.distributed) then labels isomorphism-invariantly.

Design rules:
* E1 normalization NEVER alters ``text`` — the per-turn text-equality
  invariant (BASELINE.json input_hint) is tested byte-for-byte.
* Mention detection is one whole-stage-codegen JVM pass
  (regexp_extract_all, zero Python); a test pins it to Python's
  ``re.findall`` over the same grammar.
* E3 linking is a broadcast hash join against the (tiny) gazetteer —
  never a per-row lookup UDF.  Unlinked mentions become conversation-scoped
  blank nodes, so identical surfaces co-refer within a conversation and the
  canonicalizer assigns them stable labels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# extraction grammar: "<Capitalized> <relation> <Capitalized>."
RELATION_PHRASES = ["works at", "lives in", "knows", "visited", "founded"]
MENTION_PATTERN = (r"([A-Z][a-z]+) ("
                   + "|".join(p.replace(" ", r" ") for p in RELATION_PHRASES)
                   + r") ([A-Z][a-z]+)\.")


# ---------------------------------------------------------------------------
# E1: turn normalization
# ---------------------------------------------------------------------------

def normalize_turns(transcripts: DataFrame) -> DataFrame:
    """Stable (conv_id, turn_idx) ordering; duplicate turn rows dropped
    keeping the first by ts; text passes through untouched."""
    w = Window.partitionBy("conv_id", "turn_idx").orderBy("ts")
    return (
        transcripts
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# E2: mention detection
# ---------------------------------------------------------------------------

def detect_mentions(turns: DataFrame) -> DataFrame:
    """Catalyst-only: ONE regexp_extract_all pass for full matches; the
    three capture groups are then recovered with plain string ops (the
    grammar makes a match unambiguous: first token = subject, last token
    before the dot = object, the middle words = the relation), so the
    regex engine runs once per turn instead of once plus three times per
    mention."""
    pat = MENTION_PATTERN.replace("'", "\\'")
    matches = turns.select(
        "conv_id", "turn_idx",
        F.expr(f"regexp_extract_all(text, '{pat}', 0)").alias("ms"))
    m = matches.select("conv_id", "turn_idx",
                       F.explode("ms").alias("m"))
    toks = F.split(F.expr("substring(m, 1, length(m) - 1)"), " ")
    return m.select(
        "conv_id", "turn_idx",
        F.element_at(toks, 1).alias("subj_surface"),
        F.array_join(F.slice(toks, 2, F.size(toks) - 2), " ").alias("rel"),
        F.element_at(toks, -1).alias("obj_surface"))


# ---------------------------------------------------------------------------
# E3: entity linking (broadcast gazetteer join) + E4: triple assembly
# ---------------------------------------------------------------------------

def link_and_assemble(spark: SparkSession, mentions: DataFrame,
                      gazetteer_rows: list[tuple[str, str]]) -> DataFrame:
    """mentions(conv_id, turn_idx, subj_surface, rel, obj_surface) →
    triples(graph_id, subj, pred, obj, turn_idx).

    Linked surfaces take their gazetteer IRI; unlinked surfaces become
    conversation-scoped bnodes ``_:p_<surface-lower>`` (graph_id isolates
    conversations, so no cross-conversation label sharing before
    canonicalization)."""
    gaz = F.broadcast(spark.createDataFrame(
        gazetteer_rows, "surface string, iri string"))

    def resolve(df: DataFrame, side: str) -> DataFrame:
        g = gaz.select(F.col("surface").alias(f"_{side}_surf"),
                       F.col("iri").alias(f"_{side}_iri"))
        return (
            df.join(g, df[f"{side}_surface"] == g[f"_{side}_surf"], "left")
            .withColumn(
                side,
                F.coalesce(
                    f"_{side}_iri",
                    F.concat(F.lit("_:p_"),
                             F.lower(F.col(f"{side}_surface")))))
            .drop(f"_{side}_surf", f"_{side}_iri")
        )

    linked = resolve(resolve(mentions, "subj"), "obj")
    return linked.select(
        F.col("conv_id").alias("graph_id"),
        "subj",
        F.concat(F.lit("<rel:"), F.regexp_replace("rel", " ", "_"),
                 F.lit(">")).alias("pred"),
        "obj",
        "turn_idx",
    )


def extract_triples(spark: SparkSession, transcripts: DataFrame,
                    gazetteer_rows: list[tuple[str, str]],
                    with_provenance: bool = False) -> DataFrame:
    """Full E1→E4: transcripts → distinct (graph_id, subj, pred, obj)."""
    turns = normalize_turns(transcripts)
    mentions = detect_mentions(turns)
    triples = link_and_assemble(spark, mentions, gazetteer_rows)
    if with_provenance:
        return triples
    return triples.select("graph_id", "subj", "pred", "obj").dropDuplicates()

"""N-Triples / N-Quads source and sink.

The reference's primary input format (NxParser over .nt/.nq lines,
LabelRDFGraph.java:180-181, RunNQuadsTest.java:189-190).  Parsing happens
JVM-side with a single regexp per term position — ``spark.read.text`` →
codegen extraction, no Python.  Terms stay in N3 lexical convention
(engine-native), so the parser only splits positions, it does not rewrite
terms.  gzip input is free (Spark text reader handles .gz).

Quads: an optional 4th position becomes ``graph_id`` (the reference treats
the context purely as a document grouping key, RunNQuadsTest.java:270).
Triples files get a constant graph id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blabel_spark.sources.io import write_counted

# one RDF term in N3 convention: IRI, bnode, or literal with optional
# @lang / ^^<datatype> suffix
_TERM = r'(<[^>]*>|_:\S+|"(?:[^"\\]|\\.)*"(?:@[A-Za-z0-9-]+|\^\^<[^>]*>)?)'
_WS = r"[ \t]+"
# the context (4th position) is an opaque grouping key for the reference
# (RunNQuadsTest.java:270), so any non-space token is accepted there
LINE_PATTERN = (rf"^{_WS.join([_TERM] * 3)}"
                rf"(?:{_WS}((?!\.[ \t]*$)\S+))?{_WS}?\.\s*$")


def read_ntriples(spark: SparkSession, path: str,
                  default_graph: str = "default") -> DataFrame:
    """Parse an N-Triples or N-Quads file into the engine's triple schema
    (graph_id, subj, pred, obj).  Malformed/comment/blank lines are
    dropped (the reference warns and skips, LabelRDFGraph.java:231-233)."""
    lines = spark.read.text(path)
    parsed = lines.select(
        F.regexp_extract("value", LINE_PATTERN, 1).alias("subj"),
        F.regexp_extract("value", LINE_PATTERN, 2).alias("pred"),
        F.regexp_extract("value", LINE_PATTERN, 3).alias("obj"),
        F.regexp_extract("value", LINE_PATTERN, 4).alias("ctx"),
    )
    # unwrap the sink's <graph:…> context wrapper (format_ntriples) so a
    # write→read round-trip is the identity on graph ids
    ctx = F.when(F.col("ctx").rlike("^<graph:.*>$"),
                 F.regexp_extract("ctx", "^<graph:(.*)>$", 1)) \
           .otherwise(F.col("ctx"))
    return (parsed.where(F.col("subj") != "")
            .select(F.when(F.col("ctx") == "", default_graph)
                    .otherwise(ctx).alias("graph_id"),
                    "subj", "pred", "obj"))


def format_ntriples(triples: DataFrame, quads: bool = False) -> DataFrame:
    """(graph_id, subj, pred, obj) → one-column text DF of N-Triples (or
    N-Quads with the graph id as 4th position).

    Quad contexts must be RDF terms for a strict N-Quads consumer (the
    reference's NxParser): graph ids that are already IRIs or bnodes pass
    through verbatim; anything else (this reader's ``default``, transcript
    conv ids) is wrapped as ``<graph:…>`` so the output round-trips
    through strict parsers, not just this module's permissive reader."""
    if quads:
        is_term = (F.col("graph_id").startswith("<")
                   & F.col("graph_id").endswith(">")) \
            | F.col("graph_id").startswith("_:")
        ctx = F.when(is_term, F.col("graph_id")).otherwise(
            F.concat(F.lit("<graph:"), F.col("graph_id"), F.lit(">")))
        line = F.concat_ws(" ", "subj", "pred", "obj", ctx)
    else:
        line = F.concat_ws(" ", "subj", "pred", "obj")
    return triples.select(F.concat(line, F.lit(" .")).alias("value"))


def write_ntriples(triples: DataFrame, path: str, quads: bool = False) -> int:
    """Write ``triples`` as N-Triples (N-Quads) text files under ``path``;
    returns the number of statements written, observed by the write."""
    return write_counted(format_ntriples(triples, quads),
                         lambda d: d.write.mode("overwrite").text(path))

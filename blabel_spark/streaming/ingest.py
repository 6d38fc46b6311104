"""Incremental transcript ingest with Structured Streaming.

The reference is strictly batch (SURVEY §2.9: zero streaming constructs),
and the KG pipeline's fixpoint is batch with checkpointed state — but a
live corpus grows, so this module adds the idiomatic Spark front door:
new transcript files land in a directory, a file-source stream extracts
triples incrementally and appends them to the staging triple table.
Canonicalization then runs as the (resumable) batch job over the staged
triples — mirroring the reference's corpus loop (RunNQuadsTest.java:257-451)
at ingest granularity.

``Trigger.AvailableNow`` drains everything pending and stops, so the same
entry point serves both scheduled micro-batch ingest and catch-up runs;
the stream checkpoint guarantees exactly-once file processing.

Extraction here uses only stateless stages (mention detection + gazetteer
broadcast join) — window-based turn dedup is a batch concern applied at
canonicalization time.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from blabel_spark.datagen import TRANSCRIPT_SCHEMA
from blabel_spark.extract.pipeline import detect_mentions, link_and_assemble


def incremental_extract(spark: SparkSession, input_dir: str, output_dir: str,
                        checkpoint_dir: str,
                        gazetteer_rows: list[tuple[str, str]]):
    """Drain all unprocessed transcript parquet files from input_dir,
    appending extracted triples to output_dir.  Returns after the
    AvailableNow drain completes."""
    stream = (spark.readStream.schema(TRANSCRIPT_SCHEMA)
              .parquet(input_dir))
    mentions = detect_mentions(stream)
    triples = link_and_assemble(spark, mentions, gazetteer_rows)
    q = (triples.writeStream
         .format("parquet")
         .option("path", output_dir)
         .option("checkpointLocation", checkpoint_dir)
         .outputMode("append")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q

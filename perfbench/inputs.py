"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments.  The corpora that
have a seed-independent correct output (the giant graph, the dedup docs)
are built from a fixed base seed; the run seed only renames blank nodes
and/or shuffles rows, which must not change the output (blabel's
TEST-mode isomorphism invariance).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BASE_SEED = 20260101

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

# the repo's `documents` test table (5,000 docs at sf0.1): every word drawn
# uniformly from this 30-word vocabulary, 10-100 words a doc, and 5 % of
# the docs (250) an exact copy of another doc with " dup" appended
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
DOC_WORDS = (10, 100)
DUP_SHARE = 0.05


def order_triples(n_orders: int) -> list[tuple[str, str, str]]:
    """The shapes of the repo's derived triples view
    (``ops.triples_view.build_triples``) over TPC-H-proportioned rows:
    10 orders per customer (a third of the customers never order), 1-7
    lines per order.  Orders and customers are blank nodes."""
    rng = random.Random(BASE_SEED)
    n_cust = max(n_orders // 10, 3)
    n_parts = max(n_orders * 2 // 15, 1)
    buyers = [c for c in range(1, n_cust + 1) if c % 3]
    rows = []
    for o in range(1, n_orders + 1):
        buyer = rng.choice(buyers)
        rows.append((f"_:o{o}", "<rel:placed_by>", f"_:c{buyer}"))
        status = rng.choices("FOP", (0.49, 0.49, 0.02))[0]
        rows.append((f"_:o{o}", "<rel:status>", f'"{status}"'))
        for _ in range(rng.randint(1, 7)):
            rows.append((f"_:o{o}", "<rel:has_part>",
                         f"<part:{rng.randint(1, n_parts)}>"))
    for c in range(1, n_cust + 1):
        rows.append((f"<cust:{c}>", "<rel:segment>",
                     f'"{rng.choice(SEGMENTS)}"'))
    return rows


def giant_graph(spark: SparkSession, n_orders: int, n_chains: int,
                chain_len: int, hub_leaves: int) -> DataFrame:
    """ONE graph holding the order triples, ``n_chains`` bnode chains and
    one hub bnode whose leaves each carry a distinct literal (distinct
    leaves keep the hub free of automorphisms, see NOTES.md cliffs)."""
    from blabel_spark.synthetic import chain
    rows = order_triples(n_orders)
    for i in range(n_chains):
        rows.extend(chain(chain_len, tag=f"c{i}_"))
    for i in range(hub_leaves):
        rows.append(("_:hub", "<rel:leaf>", f"_:leaf{i}"))
        rows.append((f"_:leaf{i}", "<rel:val>", f'"{i}"'))
    return (spark.createDataFrame(rows, "subj string, pred string, obj string")
            .select(F.lit("giant").alias("graph_id"), "subj", "pred", "obj"))


def rename_and_shuffle(triples: DataFrame, seed: int) -> DataFrame:
    """Seeded blank-node renaming plus row shuffle: an isomorphic copy of
    every graph, so canonical output must not change with the seed."""
    def ren(c: str):
        col = F.col(c)
        return F.when(col.startswith("_:"),
                      F.concat(F.lit("_:b"),
                               F.hex(F.xxhash64(F.lit(seed), col)))) \
            .otherwise(col).alias(c)
    return (triples.select("graph_id", ren("subj"), "pred", ren("obj"))
            .orderBy(F.rand(seed)))


def documents(n_docs: int) -> list[tuple[int, str]]:
    """(doc_id, text) corpus with the structure of the repo's `documents`
    table: uniform vocabulary docs, ``DUP_SHARE`` of them a copy of
    another doc plus the word "dup"."""
    rng = random.Random(BASE_SEED)
    texts = [" ".join(rng.choices(VOCAB, k=rng.randint(*DOC_WORDS)))
             for _ in range(n_docs)]
    for i in rng.sample(range(n_docs), round(DUP_SHARE * n_docs)):
        j = rng.randrange(n_docs - 1)
        texts[i] = texts[j + (j >= i)] + " dup"
    return list(enumerate(texts))


def shuffled_documents(spark: SparkSession, n_docs: int,
                       seed: int) -> DataFrame:
    return (spark.createDataFrame(documents(n_docs), "doc_id long, text string")
            .orderBy(F.rand(seed)))

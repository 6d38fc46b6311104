"""Deduplication operators for training-data pipelines (SURVEY brief).

The operators are DataFrame/Catalyst expressions, and are designed
around shuffle-minimal plans:

* exact dedup: one hash-groupBy (map-side partial aggregation);
* MinHash: per-row signature computation is a codegen expression over
  character shingles (no explode, no shuffle), then LSH banding turns the
  quadratic all-pairs problem into an equi-join on band keys;
* SimHash: per-token votes aggregated with one groupBy; 16-bit fingerprint
  assembled from conditional sums;
* n-gram Jaccard verifies LSH candidate pairs only (never all pairs) by
  intersecting the members' shingle arrays (no shuffle keyed by shingle);
* clusters are connected components over the pair graph
  (``blabel_spark/components.py``: a single-task union-find over the
  pairs, never the corpus, while they fit one task).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from blabel_spark import ckpt_util
from blabel_spark.components import components

HEX = "0123456789abcdef"


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact-duplicate groups by content hash (md5)."""
    return (
        docs.groupBy(F.md5(F.encode(F.col(text_col), "UTF-8")).alias("content_hash"))
        .agg(F.count("*").alias("n_docs"),
             F.min("doc_id").alias("keeper_doc_id"))
        .where(F.col("n_docs") > 1)
    )


def _shingles(text_col: str, k: int, unit: str) -> Column:
    """Array of k-shingles: ``unit="char"`` slides a k-char window (fine
    for natural text); ``unit="word"`` joins k consecutive whitespace
    tokens — the right granularity when the token vocabulary is small
    relative to document length (char shingles then collide on every
    frequent substring and near-dup detection degenerates to all-pairs).
    Any other ``unit`` raises ValueError."""
    if unit not in ("char", "word"):
        raise ValueError(f"unit must be 'char' or 'word', got {unit!r}")
    text = F.col(text_col)
    if unit == "char":
        idx = F.sequence(F.lit(1),
                         F.greatest(F.length(text) - (k - 1), F.lit(1)))
        return F.transform(idx, lambda i: text.substr(i, F.lit(k)))
    words = F.filter(F.split(text, " "), lambda w: F.length(w) > 0)
    # bind the tokens once, as lambda variable ws: an expression inside the
    # per-shingle lambda is re-evaluated per shingle (quadratic in length)
    return F.transform(F.array(words), lambda ws: F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(ws) - (k - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(ws, i, k), " ")))[0]


def minhash_signatures(docs: DataFrame, n_hashes: int = 4, k: int = 5,
                       text_col: str = "text",
                       unit: str = "char") -> DataFrame:
    """(doc_id, h0..h{n-1}) MinHash signature over k-shingles (char or
    word, see _shingles).  The shingle array is materialized into one
    column first so the n_hashes per-seed transforms share it instead of
    re-deriving it per seed."""
    with_sh = docs.select("doc_id",
                          _shingles(text_col, k, unit).alias("_sh"))
    cols = []
    for s in range(n_hashes):
        # NB: the lambda must take exactly one arg — F.transform passes the
        # array index to a second parameter, which would clobber a captured
        # default.  transform() consumes the lambda eagerly, so closing over
        # the loop variable via `seed` is safe.
        seed = F.lit(f"s{s}|")
        hashes = F.transform(F.col("_sh"),
                             lambda x: F.md5(F.concat(seed, x)))
        cols.append(F.array_min(hashes).alias(f"h{s}"))
    return with_sh.select("doc_id", *cols)


def lsh_candidate_pairs(docs: DataFrame, n_hashes: int = 4, k: int = 5,
                        band_chars: int = 4, unit: str = "char",
                        signatures: DataFrame | None = None) -> DataFrame:
    """Near-dup candidates: docs sharing a banded MinHash prefix.  The
    band join is an equi-join on (band_id, band_key) — at 100 TB this is
    the only way near-dup detection scales (candidate pairs ≪ n²).

    Pass ``signatures`` (a minhash_signatures() result) to reuse one
    signature computation across banding and downstream verification —
    signature hashing dominates the cost, so consumers should compute it
    once.

    The band table is checkpointed eagerly: calling this runs one job.
    The returned pairs read its blocks, which the caller's enclosing
    ``ckpt_util.scope()`` releases on exit (with no scope open the
    blocks stay until the session's ContextCleaner frees them)."""
    sig = signatures if signatures is not None \
        else minhash_signatures(docs, n_hashes, k, unit=unit)
    # one posexplode pass — a union of per-band selects would re-evaluate
    # the signature plan once per band.  The band table is materialized
    # once before the self-join: signature hashing dominates the cost and
    # a broadcast (or stats-free) self-join would otherwise evaluate the
    # whole shingle+md5 plan on BOTH sides (the round-6 before-plan showed
    # two full signature subtrees).  The table is (doc_id, band_id,
    # band_key) — n_hashes rows per doc, far narrower than the corpus.
    bands = ckpt_util.checkpoint(sig.select(
        "doc_id",
        F.posexplode(F.array(
            *[F.substring(F.col(f"h{s}"), 1, band_chars)
              for s in range(n_hashes)])).alias("band_id", "band_key")))
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(b, ["band_id", "band_key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def shingle_input_docs(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Docs that appear on either side of a candidate pair — the ONLY
    rows the Jaccard verify stage needs to shingle.  Candidate sets are
    typically a few percent of the corpus, so semi-joining here keeps the
    shingle arrays (k-shingles per doc, ~k× the text) off the other ~95%
    of the corpus."""
    ids = (pairs.select(F.col("doc_a").alias("doc_id"))
           .union(pairs.select(F.col("doc_b").alias("doc_id")))
           .distinct())
    return docs.join(ids, "doc_id", "left_semi")


def ngram_jaccard(docs: DataFrame, pairs: DataFrame, k: int = 5,
                  text_col: str = "text", unit: str = "char") -> DataFrame:
    """Jaccard similarity over distinct k-shingles for the given candidate
    pairs only (never all pairs, never shingling docs outside the pairs):
    each pair intersects its members' distinct-shingle arrays, so no
    (doc, shingle) rows are exploded and building the plan runs no job.
    Pairs with a doc missing from ``docs`` are dropped."""
    sh = shingle_input_docs(docs, pairs).select(
        "doc_id", F.array_distinct(_shingles(text_col, k, unit)).alias("sh"))
    # array_intersect matches NULL to NULL, but a NULL text's lone NULL
    # shingle must count in its size and never in an intersection
    sh = sh.select("doc_id", F.size("sh").alias("n"),
                   F.array_compact("sh").alias("sh"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"),
                   F.col("sh").alias("a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"),
                   F.col("sh").alias("b"))
    return (
        pairs.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("a", "b"))
                    .cast("long"))
        .select("doc_a", "doc_b", "n_inter",
                F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b")
                                            - F.col("n_inter")), 6)
                .alias("jaccard"))
    )


def simhash16(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """16-bit SimHash over whitespace tokens.

    Each token contributes ±1 votes on 16 bits taken nibble-wise from the
    first 4 hex chars of md5(token); fingerprint bit j is 1 iff the vote
    sum is positive.  One explode + one groupBy with 16 conditional sums —
    shuffle keyed by doc_id only.
    """
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.col(text_col), " ")).alias("tok")) \
        .where(F.length("tok") > 0) \
        .withColumn("h", F.md5(F.col("tok")))
    bit_cols = []
    for j in range(16):
        nib_i, r = divmod(j, 4)
        nib = F.expr(
            f"locate(substring(h, {nib_i + 1}, 1), '{HEX}') - 1")
        bit = (nib.cast("int") / (2 ** (3 - r))).cast("int") % 2
        bit_cols.append(F.sum(F.when(bit == 1, 1).otherwise(-1))
                        .alias(f"v{j}"))
    votes = toks.groupBy("doc_id").agg(*bit_cols)
    fp = None
    for j in range(16):
        term = F.when(F.col(f"v{j}") > 0, 2 ** j).otherwise(0)
        fp = term if fp is None else fp + term
    return votes.select("doc_id", fp.cast("int").alias("simhash"))


def embedding_near_dups(emb: DataFrame, threshold: float = 0.9,
                        n_bits: int = 16, n_tables: int = 12,
                        dim: int = 64, seed: int = 42,
                        vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate pairs, banded sign-LSH.

    AND within a table (all ``n_bits`` hyperplane signs must agree — the
    band), OR across ``n_tables`` independently-seeded tables: a pair is
    a candidate iff it shares a bucket in ANY table.  Candidates come
    from a bucketed self-equi-join per table key — work is
    Σ_t Σ_bucket size², never the C(n,2) all-pairs join — then exact
    cosine verification on the de-duplicated candidate set.

    Operating point: with p = 1 - acos(cos_sim)/π per bit, pair recall
    is 1 - (1 - p^n_bits)^n_tables.  At the defaults (16 bits × 12
    tables) a cosine-0.9 pair (p ≈ 0.856) is caught with probability
    ≈ 0.65, a 0.95 pair ≈ 0.91, a 0.99 pair ≈ 1.0 — while each table's
    2^16 buckets keep Σ bucket² ≈ n²/65536 on spread data, so the
    candidate volume stays ≈ 12 n²/65536 ≪ C(n,2).  A single 6-bit
    table (the former default) caught a cosine-0.9 pair only ~39% of
    the time while its 64 buckets degenerated toward n²/64 candidates
    at corpus scale — strictly dominated; raise n_tables (recall) or
    n_bits (candidate budget) independently as the corpus demands.

    The 100 TB shape: (table_id, bucket) is the shuffle key — 12×
    duplication of (vec_id, vector) rows, skewed buckets split by AQE,
    candidate pairs de-duplicated BEFORE the vectors are fetched for
    verification, and the threshold filter runs before any output
    materializes.

    Returns (id_a, id_b, sim) with id_a < id_b and sim >= threshold
    (cosine rounded to 4 decimals before the threshold test, so the
    result is reproducible across float orderings).
    """
    from blabel_spark.ops.similarity import cosine
    cand = embedding_candidate_pairs(emb, n_bits, n_tables, dim, seed,
                                     vec_col)
    va = emb.select(F.col("vec_id").alias("id_a"),
                    F.col(vec_col).alias("_va"))
    vb = emb.select(F.col("vec_id").alias("id_b"),
                    F.col(vec_col).alias("_vb"))
    return (cand.join(va, "id_a").join(vb, "id_b")
            .select("id_a", "id_b",
                    F.round(cosine(F.col("_va"), F.col("_vb")), 4)
                    .alias("sim"))
            .where(F.col("sim") >= threshold))


def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """Near-duplicate CLUSTERS from pairwise matches: connected
    components over the (doc_a, doc_b) pair graph, each document mapped
    to its cluster keeper (minimum doc id) — the final stage of a dedup
    pipeline (keep one representative per cluster, drop the rest).
    Pairs may come from any of the pair producers (LSH+Jaccard, SimHash,
    embedding near-dups) or their union.

    ``components.components`` does the work over the distinct pair
    edges: a pair graph that fits one task (the common case, since
    candidate budgets keep pairs ≪ corpus) resolves in one single-task
    union-find job; a larger one takes the propagation loop, whose
    rounds join pairs, never the corpus.

    Returns (doc_id, keeper_doc_id) for every document that appears in
    at least one pair; docs without a match keep themselves by
    construction and are not emitted.
    """
    with ckpt_util.scope() as held:
        # the checkpoint's own job observes the routing row count
        edges, n_edges = ckpt_util.counted(
            pairs.select(F.col("doc_a").alias("a"),
                         F.col("doc_b").alias("b")).distinct())
        out = components(edges, rows_bound=n_edges).select(
            F.col("node").alias("doc_id"),
            F.col("comp").alias("keeper_doc_id"))
        held.keep(edges, out)   # the kernel's lazy output reads edges
        return out


def embedding_candidate_pairs(emb: DataFrame, n_bits: int = 16,
                              n_tables: int = 12, dim: int = 64,
                              seed: int = 42,
                              vec_col: str = "embedding") -> DataFrame:
    """Distinct (id_a, id_b) banded sign-LSH candidate pairs — the
    pre-verification stage of embedding_near_dups, exposed so the
    candidate budget (≪ C(n,2)) can be asserted independently."""
    from blabel_spark.ops.similarity import table_buckets_udf
    # one Arrow pass computes all L buckets; one posexplode emits the
    # (table_id, bucket) join keys
    keyed = emb.select(
        "vec_id",
        F.posexplode(table_buckets_udf(dim, n_bits, n_tables, seed)(
            F.col(vec_col)))
        .alias("table_id", "bucket"))
    left = keyed.select(F.col("vec_id").alias("id_a"), "table_id", "bucket")
    right = keyed.select(F.col("vec_id").alias("id_b"), "table_id", "bucket")
    return (left.join(right, ["table_id", "bucket"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())


def select_keepers(clusters: DataFrame, scores: DataFrame) -> DataFrame:
    """Quality-aware keeper selection — the step after ``dedup_clusters``
    in a real pipeline: instead of keeping the minimum doc id, keep the
    BEST-scoring member of every near-dup cluster (tie-break min doc id,
    so the choice is total and deterministic).

    ``clusters``: (doc_id, keeper_doc_id) as produced by
    ``dedup_clusters`` — the CC keeper is reused as the cluster id.
    ``scores``: (doc_id, quality) — any deterministic score, e.g.
    ``ops.textstats.quality_score``.

    Scale shape: the member table is pair-graph-sized (docs that matched
    at least once, ≪ corpus); the score attach is an equi-join on doc_id
    and the argmax is one per-cluster window over members only — no
    corpus-scale shuffle, clusters are shallow by construction.

    Returns (doc_id, cluster_id, keeper_doc_id, keep).
    """
    from pyspark.sql import Window
    members = clusters.select(
        "doc_id", F.col("keeper_doc_id").alias("cluster_id"))
    # LEFT join (ADVICE r5): a cluster member with no score row must
    # still appear in the output — its NULL quality sorts last under the
    # descending order (Spark's default), so it can only become keeper
    # when the whole cluster is unscored, and then the doc-id tie-break
    # keeps the choice total and deterministic
    m = members.join(scores.select("doc_id", "quality"), "doc_id", "left")
    w = (Window.partitionBy("cluster_id")
         .orderBy(F.desc("quality"), F.asc("doc_id"))
         .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    return (m.withColumn("keeper_doc_id", F.first("doc_id").over(w))
            .select("doc_id", "cluster_id", "keeper_doc_id",
                    (F.col("doc_id") == F.col("keeper_doc_id"))
                    .alias("keep")))

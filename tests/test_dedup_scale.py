"""Scale-shape properties of the dedup family: the LSH candidate set must
stay far below C(n,2) (all-pairs never scales), while seeded near-dups
are still caught and verified with high Jaccard."""

import pytest
from pyspark.sql import functions as F

from blabel_spark.ops.dedup import (
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard,
)


def _docs(spark):
    """120 random-word docs + 3 seeded near-dup pairs."""
    import random
    rng = random.Random(7)
    vocab = [f"w{i:03d}" for i in range(400)]
    rows = []
    for d in range(120):
        rows.append((d, " ".join(rng.choice(vocab) for _ in range(60))))
    base = len(rows)
    for j in range(3):
        words = rows[j][1].split()
        words[5] = "changed"          # one-token edit → near-dup
        rows.append((base + j, " ".join(words)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_candidates_far_below_all_pairs(spark):
    docs = _docs(spark)
    n = docs.count()
    sig = minhash_signatures(docs, n_hashes=4, k=3, unit="word")
    pairs = lsh_candidate_pairs(docs, n_hashes=4, k=3, band_chars=4,
                                signatures=sig)
    n_pairs = pairs.count()
    all_pairs = n * (n - 1) // 2
    assert n_pairs < all_pairs * 0.05, (n_pairs, all_pairs)


def test_seeded_near_dups_found_and_verified(spark):
    docs = _docs(spark)
    pairs = lsh_candidate_pairs(docs, n_hashes=4, k=3, band_chars=4,
                                unit="word")
    jac = ngram_jaccard(docs, pairs, k=3, unit="word")
    found = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in jac.collect()}
    for j in range(3):
        pair = (j, 120 + j)
        assert pair in found, f"seeded near-dup {pair} missed by LSH"
        assert found[pair] > 0.8, (pair, found[pair])


def test_driver_corpus_selectivity(spark):
    """On the driver documents table the word-shingle LSH must not
    degenerate to all-pairs (char shingles do, on this vocabulary)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n = docs.count()
    pairs = lsh_candidate_pairs(docs, n_hashes=4, k=3, band_chars=4,
                                unit="word")
    assert pairs.count() < n * (n - 1) // 2 * 0.10


def test_ngram_shingles_only_pair_members(spark, monkeypatch):
    """The Jaccard verify stage must shingle ONLY docs appearing in the
    candidate pairs — at 100 TB an unrestricted explode materializes the
    whole corpus k× to verify a few-percent candidate set."""
    import blabel_spark.ops.dedup as dd
    docs = _docs(spark)                    # 123 docs
    pairs = spark.createDataFrame([(0, 120), (1, 121)],
                                  "doc_a long, doc_b long")
    seen = {}
    orig = dd.shingle_input_docs

    def spy(d, p):
        out = orig(d, p)
        seen["n"] = out.count()
        return out

    monkeypatch.setattr(dd, "shingle_input_docs", spy)
    res = dd.ngram_jaccard(docs, pairs, k=3, unit="word").collect()
    assert seen["n"] == 4, "shingle stage must see pair members only"
    assert len(res) == 2
    assert all(r["jaccard"] > 0.8 for r in res)


def test_exact_dedup_counts(spark):
    from blabel_spark.ops.dedup import exact_duplicates
    rows = [(0, "a b c"), (1, "a b c"), (2, "unique text"), (3, "a b c")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = exact_duplicates(docs).collect()
    assert len(out) == 1
    assert out[0]["n_docs"] == 3 and out[0]["keeper_doc_id"] == 0


def test_dedup_clusters_transitive(spark):
    """CC over pairs must propagate transitively (chain + star + isolated
    pair), keeper = min id; unmatched docs are not emitted."""
    from blabel_spark.ops.dedup import dedup_clusters
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),          # chain -> keeper 1
         (20, 21), (20, 22), (20, 23),    # star  -> keeper 20
         (11, 10)],                       # reversed pair -> keeper 10
        "doc_a long, doc_b long")
    got = {r["doc_id"]: r["keeper_doc_id"]
           for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   20: 20, 21: 20, 22: 20, 23: 20,
                   10: 10, 11: 10}


def test_dedup_clusters_kernel_loop_parity(spark, monkeypatch):
    """Round-6 routing: small pair graphs resolve in a single-task
    union-find kernel; the iterative loop (forced via KERNEL_ROWS=0)
    must produce the identical (doc_id, keeper) set — including on
    string-typed ids and deep chains that need transitive propagation."""
    from blabel_spark import components
    from blabel_spark.ops.dedup import dedup_clusters
    long_pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)]        # one deep chain
        + [(100, 103), (103, 101), (101, 107)],  # out-of-order cluster
        "doc_a long, doc_b long")
    kern = {(r["doc_id"], r["keeper_doc_id"])
            for r in dedup_clusters(long_pairs).collect()}
    with monkeypatch.context() as m:
        m.setattr(components, "KERNEL_ROWS", 0)
        loop = {(r["doc_id"], r["keeper_doc_id"])
                for r in dedup_clusters(long_pairs).collect()}
    assert kern == loop
    assert all(k == 0 for d, k in kern if d <= 40)

    str_pairs = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")], "doc_a string, doc_b string")
    kern_s = {(r["doc_id"], r["keeper_doc_id"])
              for r in dedup_clusters(str_pairs).collect()}
    assert kern_s == {("a", "a"), ("b", "a"), ("c", "a"),
                      ("x", "x"), ("y", "x")}


def test_dedup_clusters_kernel_route_scope_releases_edges(spark):
    """The kernel route's lazy output reads the checkpointed edge table:
    it is kept for the caller, and the caller's scope releases it."""
    from blabel_spark import ckpt_util
    from blabel_spark.ops.dedup import dedup_clusters

    def persistent_ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    pairs = spark.createDataFrame([(i, i + 1) for i in range(20)],
                                  "doc_a long, doc_b long")
    before = persistent_ids()
    with ckpt_util.scope():
        rows = dedup_clusters(pairs).collect()
        assert persistent_ids() - before, "edge table not checkpointed"
    assert {r["keeper_doc_id"] for r in rows} == {0} and len(rows) == 21
    assert persistent_ids() - before == set()


def test_embedding_near_dups_scale_operating_point(spark):
    """The 16-bit x 12-table default on a 5k-vector corpus: planted
    cosine-0.95 pairs are recovered at the banded-LSH recall the
    analysis predicts (1-(1-p^16)^12 ~ 0.91 at p=0.899), while the
    candidate set stays orders of magnitude below C(n,2) — the property
    that separates 'bucketed' from 'bucketed at the right granularity'
    (a single 6-bit table degenerates to ~n^2/64 candidates)."""
    import numpy as np

    from blabel_spark.ops.dedup import (embedding_candidate_pairs,
                                        embedding_near_dups)
    rng = np.random.default_rng(11)
    n, dim, n_planted = 5000, 64, 50
    base = rng.standard_normal((n, dim)).astype(np.float32)
    rows = [(i, [float(x) for x in v], 0) for i, v in enumerate(base)]
    for j in range(n_planted):
        v = base[j] / np.linalg.norm(base[j])
        g = rng.standard_normal(dim)
        u = g - (g @ v) * v
        u /= np.linalg.norm(u)
        w = 0.95 * v + np.sqrt(1 - 0.95 ** 2) * u  # cosine(v, w) = 0.95
        rows.append((10_000 + j, [float(x) for x in w.astype(np.float32)],
                     0))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    cand = embedding_candidate_pairs(emb).localCheckpoint(True)
    n_cand = cand.count()
    all_pairs = (n + n_planted) * (n + n_planted - 1) // 2
    assert n_cand < all_pairs * 0.01, (n_cand, all_pairs)
    got = {(r.id_a, r.id_b)
           for r in embedding_near_dups(emb, threshold=0.94).collect()}
    planted = {(j, 10_000 + j) for j in range(n_planted)}
    recall = len(planted & got) / n_planted
    assert recall >= 0.75, recall
    # and every emitted pair really clears the cosine threshold
    sims = embedding_near_dups(emb, threshold=0.94).collect()
    assert all(r.sim >= 0.94 for r in sims)


def test_embedding_near_dups_finds_planted_pairs(spark):
    """Planted near-duplicate embeddings (tiny perturbations) are found
    by the bucketed operator, and no pair below threshold is emitted."""
    import numpy as np

    from blabel_spark.ops.dedup import embedding_near_dups
    rng = np.random.default_rng(7)
    base = rng.standard_normal((20, 64)).astype(np.float32)
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v], 0))
        # planted near-dup of every even vector: cosine ~0.999+
        if i % 2 == 0:
            w = v + 0.01 * rng.standard_normal(64).astype(np.float32)
            rows.append((100 + i, [float(x) for x in w], 0))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    got = {(r.id_a, r.id_b): r.sim
           for r in embedding_near_dups(emb, threshold=0.95).collect()}
    planted = {(i, 100 + i) for i in range(0, 20, 2)}
    found = planted & set(got)
    # sign-LSH recall on ~0.9995-cosine pairs with 6 bits is ~1; allow
    # one boundary miss, require no false positives below threshold
    assert len(found) >= len(planted) - 1, planted - set(got)
    assert all(sim >= 0.95 for sim in got.values())


# Edge-case corpus for the verify stage: NULL, empty and whitespace-only
# text, repeated shingles, identical docs, texts shorter than k.
_EDGE_DOCS = [(0, None), (1, None), (2, ""), (3, "   "),
              (4, "a a a a a a"), (5, "a a a a"), (6, "aaaaaa"),
              (7, "the quick brown fox jumps"),
              (8, "the quick brown fox jumps"),
              (9, "quick brown fox jumps over"), (10, "x")]
# 99 is absent from the docs: its pairs must be dropped
_EDGE_PAIRS = [(0, 1), (0, 2), (1, 7), (2, 3), (2, 10), (4, 5), (4, 6),
               (5, 6), (7, 8), (7, 9), (9, 10), (3, 10), (7, 99), (99, 8)]


def _reference_shingles(text, k, unit):
    """Python twin of dedup._shingles: a NULL text yields one NULL
    shingle, a text shorter than one window yields one (short) shingle."""
    if text is None:
        return [None]
    if unit == "char":
        return [text[i:i + k] for i in range(max(len(text) - (k - 1), 1))]
    w = [x for x in text.split(" ") if x]
    return [" ".join(w[i:i + k]) for i in range(max(len(w) - (k - 1), 1))]


def _half_up(x, places=6):
    """Spark's round(): HALF_UP on the double's shortest decimal form."""
    from decimal import ROUND_HALF_UP, Decimal
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-places),
                                           ROUND_HALF_UP))


@pytest.mark.parametrize("unit", ["word", "char"])
def test_ngram_jaccard_matches_brute_force(spark, unit):
    """ngram_jaccard equals a Python set computation: sizes count
    distinct shingles (a NULL shingle included), the intersection never
    matches a NULL shingle, and a pair with a doc missing is dropped."""
    k = 3
    docs = spark.createDataFrame(_EDGE_DOCS, "doc_id long, text string")
    pairs = spark.createDataFrame(_EDGE_PAIRS, "doc_a long, doc_b long")
    jac = ngram_jaccard(docs, pairs, k=k, unit=unit)
    assert jac.columns == ["doc_a", "doc_b", "n_inter", "jaccard"]
    got = {(r["doc_a"], r["doc_b"]): (r["n_inter"], r["jaccard"])
           for r in jac.collect()}

    sets = {d: set(_reference_shingles(t, k, unit)) for d, t in _EDGE_DOCS}
    want = {}
    for a, b in _EDGE_PAIRS:
        if a in sets and b in sets:
            n_inter = len((sets[a] & sets[b]) - {None})
            want[(a, b)] = (n_inter, _half_up(
                n_inter / (len(sets[a]) + len(sets[b]) - n_inter)))
    assert got == want
    assert got[(0, 1)] == (0, 0.0)   # NULL text never matches
    assert got[(7, 8)][1] == 1.0     # identical docs


def test_ngram_jaccard_duplicate_pair_rows_score_alone(spark):
    """A pair listed twice is scored twice, each row as if alone (an
    exploded shingle join would count its intersection twice)."""
    docs = spark.createDataFrame([(1, "a b c d e"), (2, "a b c d f")],
                                 "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2), (1, 2)], "doc_a long, doc_b long")
    rows = [tuple(r) for r in
            ngram_jaccard(docs, pairs, k=3, unit="word").collect()]
    assert rows == [(1, 2, 2, 0.5), (1, 2, 2, 0.5)]


def test_ngram_jaccard_construction_is_lazy(spark):
    """Building the verify plan fires no Spark job (nothing is
    checkpointed eagerly), and the plan never explodes shingles into
    rows — the intersection runs on per-doc shingle arrays."""
    from blabel_spark.obs import phase
    docs = spark.createDataFrame(_EDGE_DOCS, "doc_id long, text string")
    pairs = spark.createDataFrame(_EDGE_PAIRS, "doc_a long, doc_b long")
    with phase("ngram_jaccard_build") as rec:
        jac = ngram_jaccard(docs, pairs, k=3, unit="word")
    assert rec["n_jobs"] == 0
    assert len(jac.collect()) == 12
    plan = jac._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan, plan


@pytest.mark.parametrize("unit", ["chars", "words", "Word", ""])
def test_unknown_shingle_unit_rejected(spark, unit):
    """An unknown shingle ``unit`` raises instead of silently shingling
    by word, in every entry point that shingles text."""
    docs = spark.createDataFrame([(1, "a b c d e")],
                                 "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 1)], "doc_a long, doc_b long")
    with pytest.raises(ValueError, match="unit"):
        minhash_signatures(docs, k=3, unit=unit)
    with pytest.raises(ValueError, match="unit"):
        lsh_candidate_pairs(docs, k=3, unit=unit)
    with pytest.raises(ValueError, match="unit"):
        ngram_jaccard(docs, pairs, k=3, unit=unit)

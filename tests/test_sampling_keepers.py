"""Unit tests for the two pipeline-composition operators added in round 5:
quality-aware keeper selection (ops.dedup.select_keepers) and the
deterministic per-stratum sampler (ops.sampling.stratified_sample)."""

from pyspark.sql import functions as F

from blabel_spark.ops.dedup import select_keepers
from blabel_spark.ops.sampling import (
    _threshold_hex, stratified_sample, stratified_sample_sql)


def test_select_keepers_argmax_and_tiebreak(spark):
    # cluster 1 = {1, 2, 3} (keeper from CC = min id 1), cluster 7 = {7, 9}
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (9, 7)],
        "doc_id long, keeper_doc_id long")
    # best quality in cluster 1 is doc 3; cluster 7 ties -> min id 7 wins
    scores = spark.createDataFrame(
        [(1, 0.2), (2, 0.5), (3, 0.9), (7, 0.4), (9, 0.4), (99, 1.0)],
        "doc_id long, quality double")
    out = {r["doc_id"]: (r["cluster_id"], r["keeper_doc_id"], r["keep"])
           for r in select_keepers(clusters, scores).collect()}
    assert out == {1: (1, 3, False), 2: (1, 3, False), 3: (1, 3, True),
                   7: (7, 7, True), 9: (7, 7, False)}
    # docs outside any cluster (99) never appear
    assert 99 not in out


def test_stratified_sample_deterministic_and_exact_strata(spark):
    docs = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 4).cast("string"))
        .alias("source"))
    rates = {"src0": 1.0, "src1": 0.5, "src2": 0.0}
    a = stratified_sample(docs, rates, default_rate=0.25)
    b = stratified_sample(docs, rates, default_rate=0.25)
    rows_a = sorted(r["doc_id"] for r in a.collect())
    rows_b = sorted(r["doc_id"] for r in b.collect())
    assert rows_a == rows_b  # deterministic, no RNG
    by_src = {s: [r for r in rows_a if r % 4 == int(s[-1])]
              for s in ("src0", "src1", "src2", "src3")}
    assert len(by_src["src0"]) == 500        # rate 1.0 keeps ALL exactly
    assert len(by_src["src2"]) == 0          # rate 0 keeps none
    assert 150 <= len(by_src["src1"]) <= 350     # ~0.5 of 500
    assert 50 <= len(by_src["src3"]) <= 200      # default ~0.25 of 500
    # subsample property: raising a rate only ADDS rows (threshold is a
    # prefix-ordered cut of the same hash ring)
    half = {r["doc_id"] for r in
            stratified_sample(docs, {"src1": 0.25}, default_rate=0.0)
            .collect()}
    full = {r["doc_id"] for r in
            stratified_sample(docs, {"src1": 0.5}, default_rate=0.0)
            .collect()}
    assert half <= full


def test_stratified_sample_sql_twin_matches(spark):
    import duckdb
    docs = spark.range(0, 500).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string"))
        .alias("source"))
    rates = {"s0": 0.7, "s1": 0.2}
    spark_ids = sorted(
        r["doc_id"] for r in
        stratified_sample(docs, rates, default_rate=0.05).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT "
                "range AS doc_id, 's' || (range % 3) AS source "
                "FROM range(500)")
    pred = stratified_sample_sql(rates, default_rate=0.05)
    duck_ids = [x[0] for x in con.execute(
        f"SELECT doc_id FROM documents WHERE {pred} ORDER BY 1").fetchall()]
    assert spark_ids == duck_ids


def test_stratified_sample_null_keys_match_sql_twin(spark):
    """A NULL key has no bucket: at a rate below 1 its row is dropped, as
    in the SQL twin, whatever the rate (the bare-salt hash ``md5("s1")``
    sits at rate ~0.554, so rate 0.99 would keep it)."""
    import duckdb
    n = 600
    docs = spark.range(0, n).select(
        F.col("id").alias("rid"),
        F.when(F.col("id") % 7 == 0, None).otherwise(F.col("id"))
        .alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 2).cast("string"))
        .alias("source"))
    rates = {"src1": 0.99}
    spark_ids = sorted(
        r["rid"] for r in
        stratified_sample(docs, rates, default_rate=1.0).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT range AS rid, "
                "CASE WHEN range % 7 = 0 THEN NULL ELSE range END AS doc_id, "
                f"'src' || (range % 2) AS source FROM range({n})")
    pred = stratified_sample_sql(rates, default_rate=1.0)
    duck_ids = [x[0] for x in con.execute(
        f"SELECT rid FROM documents WHERE {pred} ORDER BY 1").fetchall()]
    assert spark_ids == duck_ids
    # src0 keeps all rows, NULL keys included; src1 drops its NULL keys
    assert {r for r in spark_ids if r % 7 == 0} == \
        {r for r in range(0, n, 7) if r % 2 == 0}


def test_threshold_hex_edges():
    assert _threshold_hex(0.0) == "00000000"
    assert _threshold_hex(1.0) == "ffffffff"  # clamped to 16^8 - 1
    assert _threshold_hex(0.5) == "80000000"

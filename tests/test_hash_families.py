"""F2 hash-family selection: the reference CLI's -s flag
(cli/LabelRDFGraph.java:150-161) picks the term hash; every family must
produce a self-consistent, isomorphism-invariant canonicalization, and
murmur3_128 must be byte-compatible with Guava's implementation (the
reference hashes through Guava HashFunctions)."""

import pytest

from blabel_spark.canon.local import label_graph
from blabel_spark.hashing import get_hash_family, murmur3_128
from tests.test_local_canon import FIXTURES, shuffle_and_rename

FAMILIES = ["md5", "murmur3_128", "sha1", "sha256", "sha512"]


def test_murmur3_matches_guava(spark):
    """Bit-exactness against the real Guava implementation (Spark ships a
    shaded Guava on the JVM classpath — the same library the reference
    links)."""
    jvm = spark.sparkContext._jvm
    g = jvm.org.sparkproject.guava.hash.Hashing.murmur3_128()
    samples = ["", "a", "hello world", "_:b0", "<http://ex.org/x>",
               '"lit"@en', "x" * 15, "y" * 16, "z" * 17, "w" * 100,
               "é世界"]
    for s in samples:
        ours = murmur3_128(s.encode("utf-8")).hex()
        theirs = g.hashBytes(bytearray(s.encode("utf-8"))).toString()
        assert ours == theirs, s
    # Guava hashInt == our 4-little-endian-bytes convention
    hf = get_hash_family("murmur3_128")
    for i in (0, 1, 2, 41, -1):   # py4j maps these to java int
        assert hf.hash_int(i).hex() == g.hashInt(i).toString()
    # hashUnencodedChars == UTF-16LE bytes
    for s in ("+", "-", "abc"):
        assert hf.hash_unencoded_chars(s).hex() == \
            g.hashUnencodedChars(s).toString()


def test_arrow_murmur_pairs_match_oracle(spark):
    """The engine's Arrow murmur3_128 term hashing must equal the Python
    oracle bit-exact for every stored pair."""
    from pyspark.sql import functions as F

    from blabel_spark.hashing import enc_pair
    from blabel_spark.pair_kernels import term_pair_exprs
    terms = ["", "a", "_:b0", "<http://ex.org/x>", '"lit"@en',
             "x" * 100, "é世界"]
    df = spark.createDataFrame([(t,) for t in terms], "term string")
    a0, a1 = term_pair_exprs("murmur3_128")(F.col("term"))
    rows = df.select("term", a0.alias("a0"), a1.alias("a1")).collect()
    hf = get_hash_family("murmur3_128")
    for r in rows:
        assert (r["a0"], r["a1"]) == enc_pair(hf.hash_string(r["term"])), \
            r["term"]


@pytest.mark.parametrize("family", FAMILIES)
def test_digest_width(family):
    hf = get_hash_family(family)
    assert len(hf.hash_string("x")) == hf.n_bytes
    assert len(hf.blank) == hf.n_bytes


@pytest.mark.parametrize("family", FAMILIES)
def test_metamorphic_invariance_local(family):
    """Renamed/shuffled isomorphic graphs get identical canonical labels
    under every hash family."""
    base = FIXTURES["grid-3x3"]
    out0 = set(label_graph(shuffle_and_rename(base, 0),
                           hash_name=family).graph)
    for seed in (1, 2):
        out = set(label_graph(shuffle_and_rename(base, seed),
                              hash_name=family).graph)
        assert out == out0, family


@pytest.mark.parametrize("family", ["murmur3_128", "sha256"])
def test_distributed_matches_local(spark, family):
    """The distributed engine under a non-default family must equal the
    local oracle bit-for-bit (murmur3_128 exercises the Arrow static
    hashing in the pair fixpoint; sha256 exercises the per-graph kernel
    route for wide digests)."""
    from tests.test_distributed_canon import run_distributed
    graphs = {k: FIXTURES[k] for k in sorted(FIXTURES)[:6]}
    out = run_distributed(spark, graphs, hash_name=family)
    for name, trips in graphs.items():
        oracle = set(label_graph(trips, hash_name=family).graph)
        assert out[name] == oracle, (family, name)


def test_families_disagree():
    """Different families must yield different labels (guards against a
    family silently falling back to md5)."""
    t = [("_:a", "<p>", "_:b"), ("_:b", "<q>", "<x>")]
    outs = {f: tuple(label_graph(t, hash_name=f).graph) for f in FAMILIES}
    assert len(set(outs.values())) == len(FAMILIES)

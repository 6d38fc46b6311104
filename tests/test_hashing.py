"""Hash-kernel unit tests: Guava-compatible md5 combine semantics.

The cross-check anchor is the reference golden test
(src/test/java/cl/uchile/dcc/blabel/BlabelTest.java) exercised in
test_local_canon.py; here we pin the primitive kernels and the vectorized
numpy variants against the scalar ones.
"""

import hashlib

import numpy as np
import pytest

from blabel_spark.hashing import (
    BLANK_HASH,
    MINUS,
    PLUS,
    combine_ordered,
    combine_unordered,
    get_hash_family,
    hash_int,
    hash_string,
    hash_unencoded_chars,
    segmented_fold_ordered,
)


def test_blank_hash_is_md5_of_empty_string():
    assert BLANK_HASH.hex() == "d41d8cd98f00b204e9800998ecf8427e"


def test_hash_string_utf8():
    assert hash_string("abc").hex() == "900150983cd24fb0d6963f7d28e17f72"


def test_unencoded_chars_is_utf16le():
    # Guava hashUnencodedChars hashes UTF-16LE code units
    import hashlib
    assert PLUS == hashlib.md5("+".encode("utf-16-le")).digest()
    assert MINUS == hashlib.md5("-".encode("utf-16-le")).digest()
    assert hash_unencoded_chars("ab") == hashlib.md5(b"a\x00b\x00").digest()


def test_hash_int_little_endian():
    import hashlib
    assert hash_int(0) == hashlib.md5(b"\x00\x00\x00\x00").digest()
    assert hash_int(1) == hashlib.md5(b"\x01\x00\x00\x00").digest()
    assert hash_int(256) == hashlib.md5(b"\x00\x01\x00\x00").digest()


def test_combine_ordered_byte_math():
    a, b = bytes(range(16)), bytes(range(16, 32))
    r = combine_ordered([a, b])
    expect = bytes(((ai * 37) ^ bi) & 0xFF for ai, bi in zip(a, b))
    assert r == expect
    # order-sensitive
    assert combine_ordered([a, b]) != combine_ordered([b, a])


def test_combine_unordered_commutative():
    a, b, c = hash_string("a"), hash_string("b"), hash_string("c")
    assert combine_unordered([a, b, c]) == combine_unordered([c, a, b])
    expect = bytes((x + y + z) & 0xFF for x, y, z in zip(a, b, c))
    assert combine_unordered([a, b, c]) == expect


def test_empty_combine_raises():
    with pytest.raises(ValueError):
        combine_ordered([])
    with pytest.raises(ValueError):
        combine_unordered([])


def test_vectorized_combine_matches_scalar():
    rng = np.random.RandomState(7)
    rows = [[bytes(rng.randint(0, 256, 16, dtype=np.uint8))
             for _ in range(rng.randint(1, 9))] for _ in range(200)]
    # ragged segmented fold (jagged-diagonal packing)
    lanes = np.frombuffer(b"".join(h for r in rows for h in r),
                          dtype=np.uint8).reshape(-1, 16)
    seg_start = np.zeros(len(lanes), dtype=bool)
    seg_start[np.cumsum([0] + [len(r) for r in rows[:-1]])] = True
    folded = segmented_fold_ordered(seg_start, lanes)
    for j, row in enumerate(rows):
        assert folded[j].tobytes() == combine_ordered(row)


def test_md5_vec():
    """The md5 family's term hash is md5 of the UTF-8 bytes."""
    h = get_hash_family("md5").hash_string
    assert h("") == BLANK_HASH
    assert h("abc") == hash_string("abc")
    assert h("üñî") == hashlib.md5("üñî".encode("utf-8")).digest()


def test_sql_combine_kernels_match_scalar(spark):
    """The whole-stage-codegen combine/unordered kernels must be
    bit-identical to the scalar references on random stored pairs:
    combine_ordered per row, combine_unordered per group."""
    import random as _r

    from blabel_spark.hashing import dec_pair, enc_pair
    from blabel_spark.pair_kernels import (
        combine2_pairs_sql,
        combine3_pairs_sql,
        unordered_sum_pairs_sql,
    )
    rng = _r.Random(99)
    rows = [tuple(rng.randint(-2**63, 2**63 - 1) for _ in range(6))
            + (rng.randint(0, 7),) for _ in range(3000)]
    df = spark.createDataFrame(
        rows, "a0 long, a1 long, b0 long, b1 long, c0 long, c1 long, "
              "g int").localCheckpoint(True)
    s30, s31 = combine3_pairs_sql("a0", "a1", "b0", "b1", "c0", "c1")
    s20, s21 = combine2_pairs_sql("a0", "a1", "b0", "b1")
    got = df.select("*", s30.alias("s30"), s31.alias("s31"),
                    s20.alias("s20"), s21.alias("s21")).collect()
    for r in got:
        a, b, c = (dec_pair(r[f"{x}0"], r[f"{x}1"]) for x in "abc")
        assert (r["s30"], r["s31"]) == enc_pair(combine_ordered([a, b, c]))
        assert (r["s20"], r["s21"]) == enc_pair(combine_ordered([a, b]))
    seed = (123, -456)
    want: dict[int, list[bytes]] = {}
    for r in rows:
        want.setdefault(r[6], [dec_pair(*seed)]).append(dec_pair(r[0], r[1]))
    agg = unordered_sum_pairs_sql(df, ["g"], "a0", "a1", "o0", "o1",
                                  extra_init=seed, count_col="n").collect()
    assert {r["g"]: (r["o0"], r["o1"], r["n"]) for r in agg} == {
        g: enc_pair(combine_unordered(hs)) + (len(hs) - 1,)
        for g, hs in want.items()}


def _sorted_messages(lens, rng):
    """Sorted fold input: one segment (key) per entry of ``lens``, rows in
    (key, m0, m1) order, exactly one is_prev row per segment."""
    import pandas as pd
    lens = np.asarray(lens, dtype=np.int64)
    n = int(lens.sum())
    seg = np.repeat(np.arange(len(lens), dtype=np.int64), lens)
    m0 = rng.integers(-2**63, 2**63 - 1, n, dtype=np.int64)
    m1 = rng.integers(-2**63, 2**63 - 1, n, dtype=np.int64)
    order = np.lexsort((m1, m0, seg))
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    prev = np.zeros(n, dtype=bool)
    prev[starts + rng.integers(0, lens)] = True
    return pd.DataFrame({"ck0": np.full(n, 7, dtype=np.int64),
                         "ck1": seg // 3, "bk0": seg, "bk1": -seg,
                         "m0": m0[order], "m1": m1[order], "is_prev": prev})


def _batches(df, cuts):
    edges = [0, *sorted(set(cuts)), len(df)]
    return [df.iloc[a:b].reset_index(drop=True)
            for a, b in zip(edges, edges[1:])]


@pytest.mark.parametrize("seed", range(4))
def test_fold_partition_matches_scalar(seed):
    """_fold_partition on random segment-length mixes: every segment is
    combine_ordered of its sorted messages and carries its is_prev row's
    pair as oh — including a hub spanning ≥ 10 Arrow batches, a batch
    boundary just after an is_prev row, and an empty batch."""
    import pandas as pd

    from blabel_spark.hashing import dec_pair, enc_pair
    from blabel_spark.pair_kernels import _fold_partition
    rng = np.random.default_rng(seed)
    batch = 97
    lens = rng.choice([1, 2, 3, 5, 40, 150], size=120).tolist()
    lens.insert(int(rng.integers(0, len(lens))), 10 * batch + 13)
    df = _sorted_messages(lens, rng)
    n = len(df)
    cuts = list(range(batch, n, batch))
    # a boundary right after an is_prev row whose segment goes on
    prev_rows = np.flatnonzero(df["is_prev"].to_numpy())
    inner = [i for i in prev_rows[:-1] if df["bk0"][i] == df["bk0"][i + 1]]
    cuts.append(int(inner[len(inner) // 2]) + 1)
    parts = _batches(df, cuts)
    parts.insert(len(parts) // 2, df.iloc[:0])
    out = pd.concat(list(_fold_partition(iter(parts))), ignore_index=True)

    assert out["bk0"].tolist() == list(range(len(lens)))
    for r, (_, g) in zip(out.itertuples(), df.groupby("bk0", sort=True)):
        assert (r.ck0, r.ck1, r.bk1) == (7, r.bk0 // 3, -r.bk0)
        want = combine_ordered(dec_pair(a, b) for a, b in zip(g.m0, g.m1))
        assert (r.h0, r.h1) == enc_pair(want)
        p = g[g.is_prev]
        assert (r.oh0, r.oh1) == (p.m0.iloc[0], p.m1.iloc[0])


def test_fold_partition_memory_is_o_batch():
    """Folding 20k degree-2 segments plus one 20k-message hub in 5k-row
    batches peaks below 64x the input lane bytes: no padding to the hub's
    length and no re-buffering of the hub's raw rows."""
    import tracemalloc

    from blabel_spark.pair_kernels import _fold_partition
    lens = [2] * 20_000
    lens.insert(10_000, 20_000)
    df = _sorted_messages(lens, np.random.default_rng(0))
    parts = _batches(df, range(5_000, len(df), 5_000))
    lane_bytes = 16 * len(df)
    tracemalloc.start()
    try:
        n_out = sum(len(o) for o in _fold_partition(iter(parts)))
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert n_out == len(lens)
    assert peak < 64 * lane_bytes, (peak, lane_bytes)


def test_hash_int_pair_sql_matches_scalar(spark):
    """Direct parity for the codegen duplicate-mux digest: a byte-order
    or conv/XOR-encoding regression must fail HERE, not as an opaque
    end-to-end golden-label mismatch."""
    from pyspark.sql import functions as F

    from blabel_spark.hashing import enc_pair
    from blabel_spark.pair_kernels import hash_int_pair_sql
    vals = [0, 1, 2, 255, 256, 2**31 - 1]
    df = spark.createDataFrame([(v,) for v in vals], "i long")
    h0, h1 = hash_int_pair_sql(F.col("i"))
    got = {r["i"]: (r["h0"], r["h1"])
           for r in df.select("i", h0.alias("h0"), h1.alias("h1"))
           .collect()}
    want = {v: enc_pair(hash_int(v)) for v in vals}
    assert got == want


def test_by_graph_route_warns_on_ignored_fixpoint_options(spark):
    """checkpoint_dir, the fixpoint's one option, must not be silently
    dropped when the per-graph kernel route is taken."""
    import warnings

    from blabel_spark.canon.distributed import canonicalize
    df = spark.createDataFrame(
        [("g", "_:a", "<p>", "<o>")],
        "graph_id string, subj string, pred string, obj string")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        res = canonicalize(spark, df, route="by_graph",
                           checkpoint_dir="/tmp/nonexistent-ckpt")
    assert res.metrics.get("ignored_options") == ["checkpoint_dir"]
    assert any("checkpoint_dir" in str(x.message) for x in w)

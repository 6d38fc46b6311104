"""Spark kernels for the int64-pair digest representation.

Every 16-byte md5 digest travels through the distributed engine as two
sign-flipped int64 columns (see hashing.py pairs section).  Consequences:

* static term hashes are pure JVM expressions (md5 → conv(…,16,-10) →
  xor sign bit) — no Python at all;
* signed (h0, h1) ordering == the algorithm's hex ordering, so plain
  sort/sortWithinPartitions/array_sort give the fold order;
* shuffles move primitive longs (UnsafeRow-inline, no object churn, no GC
  amplification — the binary representation measurably ANTI-scaled on
  32 cores because of per-row byte[]/bytes allocation on both sides);
* the neighbourhood fold (A1) is a repartition+sortWithinPartitions and
  ONE mapInPandas pass: numpy segmented fold over contiguous key runs,
  carrying the open key's folded accumulator across Arrow batches.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from blabel_spark.hashing import (
    MIN_LONG,
    lanes_to_pairs,
    pairs_to_lanes,
    segmented_fold_ordered,
)

PAIR = StructType([StructField("h0", LongType()), StructField("h1", LongType())])


# ---------------------------------------------------------------------------
# JVM-side static hashing / rendering
# ---------------------------------------------------------------------------

def md5_pair(col: Column) -> tuple[Column, Column]:
    """md5(term) as stored (h0, h1) — whole-stage-codegen only."""
    h = F.md5(F.encode(col, "UTF-8"))
    raw0 = F.conv(F.substring(h, 1, 16), 16, -10).cast("long")
    raw1 = F.conv(F.substring(h, 17, 16), 16, -10).cast("long")
    return (raw0.bitwiseXOR(F.lit(MIN_LONG)),
            raw1.bitwiseXOR(F.lit(MIN_LONG)))


def pair_hex(h0: Column, h1: Column) -> Column:
    """Stored pair → the digest's 32-char lowercase hex (label rendering)."""
    def hx(c: Column) -> Column:
        return F.lower(F.lpad(F.hex(c.bitwiseXOR(F.lit(MIN_LONG))), 16, "0"))
    return F.concat(hx(h0), hx(h1))


# ---------------------------------------------------------------------------
# whole-stage-codegen combineOrdered: the same per-byte-lane arithmetic as
# the numpy kernels in hashing.py, but as shift/mask long expressions the JVM
# executes inline — no Python worker roundtrip, no Arrow serialization.
# Used wherever a combine is applied row-wise outside the sorted fold
# (per-triple hashes, message construction, final label folds); the
# segmented variable-length fold itself stays numpy (_fold_partition).
# ---------------------------------------------------------------------------

def _sql_lanes(h0: Column, h1: Column) -> list[Column]:
    out = []
    for c in (h0, h1):
        raw = c.bitwiseXOR(F.lit(MIN_LONG))
        for i in range(8):
            out.append(F.shiftrightunsigned(raw, (7 - i) * 8)
                       .bitwiseAND(F.lit(255)))
    return out


def _sql_pair(lanes: list[Column]) -> tuple[Column, Column]:
    def asm(ls):
        r = None
        for i, c in enumerate(ls):
            t = F.shiftleft(c, (7 - i) * 8)
            r = t if r is None else r.bitwiseOR(t)
        return r.bitwiseXOR(F.lit(MIN_LONG))
    return asm(lanes[:8]), asm(lanes[8:])


def combine2_pairs_sql(a0, a1, b0, b1) -> tuple[Column, Column]:
    """combineOrdered(a, b): per lane (a*37 ^ b) mod 256 — pure codegen."""
    M, T = F.lit(255), F.lit(37)
    la = _sql_lanes(_c(a0), _c(a1))
    lb = _sql_lanes(_c(b0), _c(b1))
    r = [(x * T).bitwiseAND(M).bitwiseXOR(y) for x, y in zip(la, lb)]
    return _sql_pair(r)


def combine3_pairs_sql(a0, a1, b0, b1, c0, c1) -> tuple[Column, Column]:
    """combineOrdered(a, b, c): ((a*37 ^ b)*37 ^ c) per lane mod 256."""
    M, T = F.lit(255), F.lit(37)
    la = _sql_lanes(_c(a0), _c(a1))
    lb = _sql_lanes(_c(b0), _c(b1))
    lc = _sql_lanes(_c(c0), _c(c1))
    r = [((x * T).bitwiseAND(M).bitwiseXOR(y) * T).bitwiseAND(M)
         .bitwiseXOR(z) for x, y, z in zip(la, lb, lc)]
    return _sql_pair(r)


def _c(x) -> Column:
    return F.col(x) if isinstance(x, str) else \
        (F.lit(x) if isinstance(x, int) else x)


# ---------------------------------------------------------------------------
# term and mux-int hashing per hash family
# ---------------------------------------------------------------------------

def hash_int_pair_sql(col: Column) -> tuple[Column, Column]:
    """Guava ``hashInt`` for the md5 family as pure codegen: md5 over the
    int's 4 little-endian bytes (hashing.hash_int twin — parity-tested).
    Keeps the duplicate-mux digest out of the Python worker entirely."""
    i = col.cast("long").bitwiseAND(F.lit(0xFFFFFFFF))
    le = F.concat(*[
        F.lpad(F.hex(F.shiftrightunsigned(i, 8 * k).bitwiseAND(F.lit(255))),
               2, "0")
        for k in range(4)])
    h = F.md5(F.unhex(le))
    raw0 = F.conv(F.substring(h, 1, 16), 16, -10).cast("long")
    raw1 = F.conv(F.substring(h, 17, 16), 16, -10).cast("long")
    return (raw0.bitwiseXOR(F.lit(MIN_LONG)),
            raw1.bitwiseXOR(F.lit(MIN_LONG)))


def int_pair_exprs(hash_name: str):
    """Column expression factory: int → Guava hashInt as a stored pair,
    for any 16-byte family.  md5 is pure codegen; the others run an Arrow
    UDF that digests each DISTINCT input once (duplicate-mux ranks 0, 2,
    3, … — a handful of values across millions of rows)."""
    if hash_name == "md5":
        return hash_int_pair_sql

    @F.pandas_udf(PAIR)
    def f(i: pd.Series) -> pd.DataFrame:
        from blabel_spark.hashing import enc_pair, get_hash_family
        hf = get_hash_family(hash_name)
        memo = {int(v): enc_pair(hf.hash_int(int(v)))
                for v in i.unique()}
        h0 = i.map(lambda v: memo[int(v)][0])
        h1 = i.map(lambda v: memo[int(v)][1])
        return pd.DataFrame({"h0": h0, "h1": h1})

    def pair(col: Column) -> tuple[Column, Column]:
        p = f(col)
        return p.getField("h0"), p.getField("h1")
    return pair


def term_pair_exprs(hash_name: str):
    """Column expression factory: term string → stored (h0, h1) pair.

    md5 stays the pure-codegen JVM fast path.  Other 16-byte families
    (murmur3_128) hash in a batch-memoized Arrow UDF — each DISTINCT
    term once per batch.  Measured at parity with codegen md5 even at
    9.3× the corpus vocabulary (1.01× md5 wall on a 1.86M-distinct-term
    sf0.1 corpus, where a row-at-a-time JVM UDF measured 1.23×)."""
    if hash_name == "md5":
        return md5_pair

    @F.pandas_udf(PAIR)
    def f(s: pd.Series) -> pd.DataFrame:
        from blabel_spark.hashing import enc_pair, get_hash_family
        hf = get_hash_family(hash_name)
        # RDF terms repeat heavily (predicates above all): hash each
        # DISTINCT term once per Arrow batch and broadcast back
        memo = {x: enc_pair(hf.hash_string(x)) for x in s.unique()}
        return pd.DataFrame({"h0": s.map(lambda x: memo[x][0]),
                             "h1": s.map(lambda x: memo[x][1])})

    def pair(col: Column) -> tuple[Column, Column]:
        p = f(col)
        return p.getField("h0"), p.getField("h1")
    return pair


# ---------------------------------------------------------------------------
# A1: repartition + sortWithinPartitions + segmented numpy fold
# ---------------------------------------------------------------------------

_KEY = ["ck0", "ck1", "bk0", "bk1"]
_FOLD_SCHEMA = ("ck0 long, ck1 long, bk0 long, bk1 long, "
                "h0 long, h1 long, oh0 long, oh1 long")


def _np(s: pd.Series) -> np.ndarray:
    return s.to_numpy(dtype=np.int64)


def _fold_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Fold one sorted partition, one output row per key (segment).

    A segment may span Arrow batches.  Its open tail crosses to the next
    batch as ONE carried row, not as its raw rows: the key, the folded
    16-byte accumulator — prepended as the segment's first lane row it
    continues the fold exactly, since (0·37) ⊕ acc = acc — and the
    previous colour (is_prev row) seen so far.  Work and memory per batch
    are O(batch) whatever the key's message count."""
    carry = None  # (key values, (1, 16) accumulator lanes, oh0, oh1, seen)
    for pdf in batches:
        if not len(pdf):
            continue
        keys = [_np(pdf[k]) for k in _KEY]
        m0, m1 = _np(pdf["m0"]), _np(pdf["m1"])
        prev = pdf["is_prev"].to_numpy(dtype=bool)
        lanes = pairs_to_lanes(m0, m1)
        if carry is not None:
            ck, acc, c0, c1, seen = carry
            keys = [np.concatenate(([k], v)) for k, v in zip(ck, keys)]
            lanes = np.concatenate((acc, lanes))
            m0 = np.concatenate(([c0], m0))
            m1 = np.concatenate(([c1], m1))
            prev = np.concatenate(([seen], prev))
        seg_start = np.zeros(len(lanes), dtype=bool)
        seg_start[0] = True
        for v in keys:
            seg_start[1:] |= v[1:] != v[:-1]
        folded = segmented_fold_ordered(seg_start, lanes)
        starts = np.flatnonzero(seg_start)
        # previous colour passthrough (one tagged row per segment): lets
        # the fixpoint loop verify each round REFINES the partition
        # without re-joining the previous state
        seg_id = np.cumsum(seg_start) - 1
        oh0 = np.zeros(len(starts), dtype=np.int64)
        oh1 = np.zeros(len(starts), dtype=np.int64)
        oh0[seg_id[prev]] = m0[prev]
        oh1[seg_id[prev]] = m1[prev]
        last = starts[-1]
        carry = ([v[last] for v in keys], folded[-1:], oh0[-1], oh1[-1],
                 bool(prev[last:].any()))
        if len(starts) > 1:
            h0, h1 = lanes_to_pairs(folded[:-1])
            out = {k: v[starts[:-1]] for k, v in zip(_KEY, keys)}
            out.update(h0=h0, h1=h1, oh0=oh0[:-1], oh1=oh1[:-1])
            yield pd.DataFrame(out)
    if carry is not None:
        ck, acc, c0, c1, _ = carry
        h0, h1 = lanes_to_pairs(acc)
        yield pd.DataFrame({**{k: [v] for k, v in zip(_KEY, ck)},
                            "h0": h0, "h1": h1, "oh0": [c0], "oh1": [c1]})


def fold_messages(msgs: DataFrame, num_partitions: int | None = None
                  ) -> DataFrame:
    """(graph_id, comp, bnode, m0, m1) message rows → folded colour per
    bnode.  The previous colour must already be unioned in as message rows
    (it sorts into place — GraphColouring.java:542-548 appends it to the
    list before sorting).

    A hub bnode's messages land contiguously in one partition and fold
    batch by batch with a carried accumulator — cross-key parallelism is
    unaffected, and per-key memory is O(Arrow batch), not the key's
    message count."""
    parts = num_partitions or msgs.sparkSession.conf.get(
        "spark.sql.shuffle.partitions")
    arranged = (msgs.repartition(int(parts), *_KEY)
                .sortWithinPartitions(*_KEY, "m0", "m1"))
    return arranged.mapInPandas(_fold_partition, _FOLD_SCHEMA)


# ---------------------------------------------------------------------------
# combineUnordered aggregation: per-lane JVM sums
# ---------------------------------------------------------------------------

def unordered_sum_pairs_sql(df: DataFrame, keys: list[str], h0: str, h1: str,
                            out0: str, out1: str,
                            extra_init: tuple[int, int] | None = None,
                            count_col: str | None = None) -> DataFrame:
    """groupBy(keys) combineUnordered over stored pairs — pure JVM.

    Byte lanes come out of the stored longs as shift/mask codegen
    expressions and aggregate as 16 ``sum`` buffers (128 B per group,
    map-side partial combine for free) — one hash aggregate, no Python
    worker, no Arrow.  Per-lane sums mod 256 (hashing.combine_unordered),
    optionally seeded with ``extra_init`` and emitting the group's row
    count as ``count_col``."""
    lanes = _sql_lanes(_c(h0), _c(h1))
    aggs = [F.sum(c) for c in lanes]
    if extra_init is not None:
        init = pairs_to_lanes(np.array([extra_init[0]], dtype=np.int64),
                   np.array([extra_init[1]], dtype=np.int64))[0]
        aggs = [a + int(init[i]) for i, a in enumerate(aggs)]
    aggs = [(a % 256).alias(f"_s{i}") for i, a in enumerate(aggs)]
    if count_col:
        aggs.append(F.count("*").alias(count_col))
    merged = df.groupBy(*keys).agg(*aggs)
    p0, p1 = _sql_pair([F.col(f"_s{i}") for i in range(16)])
    extra = [count_col] if count_col else []
    return merged.select(*keys, p0.alias(out0), p1.alias(out1), *extra)

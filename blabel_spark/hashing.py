"""Bit-exact hash kernels for blabel-compatible canonical labelling.

The reference (aidhog/blabel) hashes RDF terms with Guava's md5
``HashFunction`` and folds hash lists with Guava's ``Hashing.combineOrdered``
/ ``combineUnordered`` (Guava 18, pinned at reference pom.xml:52-55).  Those
combinators are simple per-byte arithmetic over the 16-byte digests:

* ``combineOrdered``:   r[i] = (r[i] * 37) ^ next[i]      (zero-initialised)
* ``combineUnordered``: r[i] = (r[i] + next[i]) mod 256   (zero-initialised)

Term hashing (reference ``label/util/HashGraph.java:141-155``):

* IRIs / literals: ``hf.hashString(term.toN3(), UTF_8)`` → md5 of UTF-8 bytes
* blank nodes start at ``hashString("", UTF_8)`` (the "blank hash",
  HashGraph.java:47)
* subject/object direction markers: ``hf.hashUnencodedChars("+" | "-")``
  → md5 of UTF-16LE bytes (GraphColouring.java:471-475)
* integer mux values: ``hf.hashInt(i)`` → md5 of the 4 little-endian bytes
  (GraphColouring.java:125-127)

Everything here is plain Python/numpy — no Spark imports — so the same
kernels back both the local oracle canonicalizer and the vectorized
pandas-UDF fold used by the distributed fixpoint.

All mod-256 arithmetic matches Java's signed-byte overflow semantics
(two's complement wraparound is identical mod 256).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterable

import numpy as np

HASH_BYTES = 16  # md5


def md5_bytes(data: bytes) -> bytes:
    return hashlib.md5(data).digest()


def hash_string(s: str) -> bytes:
    """Guava ``hashString(s, UTF_8)``: md5 over UTF-8 bytes."""
    return md5_bytes(s.encode("utf-8"))


def hash_unencoded_chars(s: str) -> bytes:
    """Guava ``hashUnencodedChars(s)``: md5 over UTF-16LE code units."""
    return md5_bytes(s.encode("utf-16-le"))


def hash_int(i: int) -> bytes:
    """Guava ``hashInt(i)``: md5 over the int's 4 little-endian bytes."""
    return md5_bytes((i & 0xFFFFFFFF).to_bytes(4, "little"))


# ---------------------------------------------------------------------------
# Hash-family selection (F2): the reference CLI picks the term hash with -s
# (md5 | murmur3_128 | sha1 | sha256 | sha512, LabelRDFGraph.java:150-161);
# murmur3_128 is its recommended fastest (RunNQuadsTest.java:95).  The
# combineOrdered/Unordered folds are length-generic byte arithmetic, so
# only the term-hash primitive and digest width vary per family.
# ---------------------------------------------------------------------------

_M64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _fmix64(k: int) -> int:
    k ^= k >> 33
    k = (k * 0xFF51AFD7ED558CCD) & _M64
    k ^= k >> 33
    k = (k * 0xC4CEB9FE1A85EC53) & _M64
    k ^= k >> 33
    return k


def murmur3_128(data: bytes, seed: int = 0) -> bytes:
    """MurmurHash3 x64 128-bit (Austin Appleby's public-domain algorithm),
    byte-compatible with Guava's Hashing.murmur3_128(): digest is
    little-endian h1 then h2 (verified against Spark's shaded Guava in
    tests/test_hash_families.py)."""
    c1, c2 = 0x87C37B91114253D5, 0x4CF5AD432745937F
    h1 = h2 = seed
    length = len(data)
    nblocks = length // 16
    for i in range(nblocks):
        o = i * 16
        k1 = int.from_bytes(data[o:o + 8], "little")
        k2 = int.from_bytes(data[o + 8:o + 16], "little")
        k1 = (k1 * c1) & _M64
        k1 = _rotl64(k1, 31)
        k1 = (k1 * c2) & _M64
        h1 ^= k1
        h1 = _rotl64(h1, 27)
        h1 = (h1 + h2) & _M64
        h1 = (h1 * 5 + 0x52DCE729) & _M64
        k2 = (k2 * c2) & _M64
        k2 = _rotl64(k2, 33)
        k2 = (k2 * c1) & _M64
        h2 ^= k2
        h2 = _rotl64(h2, 31)
        h2 = (h2 + h1) & _M64
        h2 = (h2 * 5 + 0x38495AB5) & _M64
    tail = data[nblocks * 16:]
    k1 = k2 = 0
    if len(tail) > 8:
        k2 = int.from_bytes(tail[8:], "little")
        k2 = (k2 * c2) & _M64
        k2 = _rotl64(k2, 33)
        k2 = (k2 * c1) & _M64
        h2 ^= k2
    if tail:
        k1 = int.from_bytes(tail[:8], "little")
        k1 = (k1 * c1) & _M64
        k1 = _rotl64(k1, 31)
        k1 = (k1 * c2) & _M64
        h1 ^= k1
    h1 ^= length
    h2 ^= length
    h1 = (h1 + h2) & _M64
    h2 = (h2 + h1) & _M64
    h1 = _fmix64(h1)
    h2 = _fmix64(h2)
    h1 = (h1 + h2) & _M64
    h2 = (h2 + h1) & _M64
    return h1.to_bytes(8, "little") + h2.to_bytes(8, "little")


class HashFamily:
    """Term-hash primitives for one -s selection; digest width in
    ``n_bytes`` (the md5/murmur3_128 16-byte families are compatible with
    the distributed int64-pair representation; sha1/sha256/sha512 run
    through the per-graph kernel path)."""

    def __init__(self, name: str, fn, n_bytes: int):
        self.name = name
        self._fn = fn
        self.n_bytes = n_bytes
        self.blank = self.hash_string("")
        self.plus = self.hash_unencoded_chars("+")
        self.minus = self.hash_unencoded_chars("-")

    def raw(self, data: bytes) -> bytes:
        return self._fn(data)

    def hash_string(self, s: str) -> bytes:
        return self._fn(s.encode("utf-8"))

    def hash_unencoded_chars(self, s: str) -> bytes:
        return self._fn(s.encode("utf-16-le"))

    def hash_int(self, i: int) -> bytes:
        return self._fn((i & 0xFFFFFFFF).to_bytes(4, "little"))


HASH_FAMILIES = {
    "md5": lambda: HashFamily(
        "md5", lambda b: hashlib.md5(b).digest(), 16),
    "murmur3_128": lambda: HashFamily("murmur3_128", murmur3_128, 16),
    "sha1": lambda: HashFamily(
        "sha1", lambda b: hashlib.sha1(b).digest(), 20),
    "sha256": lambda: HashFamily(
        "sha256", lambda b: hashlib.sha256(b).digest(), 32),
    "sha512": lambda: HashFamily(
        "sha512", lambda b: hashlib.sha512(b).digest(), 64),
}


def get_hash_family(name: str) -> HashFamily:
    try:
        return HASH_FAMILIES[name]()
    except KeyError:
        raise ValueError(
            f"unknown hash family {name!r}; choose from "
            f"{sorted(HASH_FAMILIES)}") from None


# Initial colour of every blank node: hash of the empty string
# (HashGraph.java:47,64-66).
BLANK_HASH: bytes = hash_string("")
# Direction markers for edge messages (GraphColouring.java:471-478).
PLUS: bytes = hash_unencoded_chars("+")    # marks a subject-position bnode
MINUS: bytes = hash_unencoded_chars("-")   # marks an object-position bnode


# C-speed per-byte fold machinery (bit-exact with the per-byte loops the
# round-1..5 implementations used; parity-pinned in tests/test_hashing.py):
#
# * ×37 mod 256 is a byte-wise table lookup → ``bytes.translate`` (C);
# * XOR has no inter-byte carries → whole-digest int XOR (C);
# * per-byte addition mod 256 via the SWAR trick: suppress carries out of
#   bit 7 with masks, recover the top bit with XOR — also whole-int ops.
_MUL37 = bytes(((x * 37) & 0xFF) for x in range(256))
_SWAR_MASKS: dict[int, tuple[int, int]] = {}


def _swar_masks(n: int) -> tuple[int, int]:
    m = _SWAR_MASKS.get(n)
    if m is None:
        m = (int.from_bytes(b"\x7f" * n, "big"),
             int.from_bytes(b"\x80" * n, "big"))
        _SWAR_MASKS[n] = m
    return m


def combine_ordered(hashes: Iterable[bytes]) -> bytes:
    """Order-sensitive per-byte fold: r[i] = (r[i]*37) ^ h[i].
    Length-generic — the fold width follows the input digests (Guava
    combineOrdered works for any HashCode bit width)."""
    r = None
    n = 0
    for h in hashes:
        if r is None:
            n = len(h)
            r = int.from_bytes(h, "big")  # (0*37) ^ h == h
            continue
        r = int.from_bytes(
            r.to_bytes(n, "big").translate(_MUL37), "big") \
            ^ int.from_bytes(h, "big")
    if r is None:
        raise ValueError("combine_ordered needs at least one hash")
    return r.to_bytes(n, "big")


def combine_unordered(hashes: Iterable[bytes]) -> bytes:
    """Order-insensitive per-byte fold: r[i] = (r[i] + h[i]) mod 256.
    Length-generic like combine_ordered."""
    r = None
    n = 0
    for h in hashes:
        if r is None:
            n = len(h)
            L, H = _swar_masks(n)
            r = int.from_bytes(h, "big")  # 0 + h == h
            continue
        b = int.from_bytes(h, "big")
        r = ((r & L) + (b & L)) ^ ((r ^ b) & H)
    if r is None:
        raise ValueError("combine_unordered needs at least one hash")
    return r.to_bytes(n, "big")


# ---------------------------------------------------------------------------
# int64-pair representation.
#
# The distributed engine stores every 16-byte digest as TWO sign-flipped
# int64 columns (h0, h1): h0 = first 8 big-endian bytes as unsigned minus
# 2^63, likewise h1.  Sign-flipping makes SIGNED (h0, h1) ordering equal to
# the unsigned byte-lexicographic (= hex-string) ordering the algorithm
# sorts by (GraphColouring.HashCodeComparator).  Primitives end-to-end:
# no per-row byte[]/bytes objects on either the JVM or Python side, and
# numpy kernels operate on whole columns zero-copy.
# ---------------------------------------------------------------------------

SIGN64 = np.uint64(1) << np.uint64(63)
MIN_LONG = -(1 << 63)


def enc_pair(digest: bytes) -> tuple[int, int]:
    """16-byte digest → stored (h0, h1) sign-flipped signed ints."""
    return (int.from_bytes(digest[:8], "big") - (1 << 63),
            int.from_bytes(digest[8:], "big") - (1 << 63))


def dec_pair(h0: int, h1: int) -> bytes:
    return ((h0 + (1 << 63)).to_bytes(8, "big")
            + (h1 + (1 << 63)).to_bytes(8, "big"))


def pairs_to_lanes(h0: np.ndarray, h1: np.ndarray) -> np.ndarray:
    """(n,) int64 stored pairs → (n, 16) uint8 raw digest lanes."""
    n = len(h0)
    out = np.empty((n, HASH_BYTES), dtype=np.uint8)
    u0 = (np.asarray(h0, dtype=np.int64).view(np.uint64) ^ SIGN64)
    u1 = (np.asarray(h1, dtype=np.int64).view(np.uint64) ^ SIGN64)
    out[:, :8] = np.ascontiguousarray(u0.astype(">u8")).view(np.uint8) \
        .reshape(n, 8)
    out[:, 8:] = np.ascontiguousarray(u1.astype(">u8")).view(np.uint8) \
        .reshape(n, 8)
    return out


def lanes_to_pairs(lanes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(n, 16) uint8 raw lanes → stored (h0, h1) int64 arrays."""
    n = lanes.shape[0]
    u0 = np.ascontiguousarray(lanes[:, :8]).view(">u8").reshape(n) \
        .astype(np.uint64)
    u1 = np.ascontiguousarray(lanes[:, 8:]).view(">u8").reshape(n) \
        .astype(np.uint64)
    return ((u0 ^ SIGN64).view(np.int64), (u1 ^ SIGN64).view(np.int64))


BLANK_PAIR = enc_pair(BLANK_HASH)
PLUS_PAIR = enc_pair(PLUS)
MINUS_PAIR = enc_pair(MINUS)


def segmented_fold_ordered(seg_start: np.ndarray,
                           lanes: np.ndarray) -> np.ndarray:
    """combineOrdered-fold contiguous sorted segments of raw lanes.

    seg_start: (n,) bool, True where a new segment begins.  Rows within a
    segment must already be in fold order.  Returns (n_segments, 16)
    folded lanes.

    Vectorized over segments WITHOUT padding, in jagged-diagonal order:
    segments are ranked longest first and right-aligned, so at fold step
    k the segments still folding are exactly ranks [0, c_k) and their
    rows at that step form one contiguous block.  The Python loop runs
    once per row of the longest segment and each step touches only real
    rows — a short segment beside a hub costs its own length, not the
    hub's.
    """
    n = lanes.shape[0]
    if n == 0:
        return np.zeros((0, HASH_BYTES), dtype=np.uint8)
    starts = np.flatnonzero(seg_start)
    n_seg = len(starts)
    lens = np.diff(starts, append=n)
    maxlen = int(lens.max())
    pad = maxlen - lens                          # right-alignment offset
    order = np.argsort(pad, kind="stable")       # rank → segment
    rank = np.empty(n_seg, dtype=np.int64)
    rank[order] = np.arange(n_seg)
    width = np.cumsum(np.bincount(pad, minlength=maxlen))[:maxlen]
    off = np.concatenate(([0], np.cumsum(width)))
    seg_id = np.cumsum(seg_start) - 1
    step = np.arange(n) - starts[seg_id] + pad[seg_id]
    packed = np.empty_like(lanes)
    packed[off[step] + rank[seg_id]] = lanes
    r = np.zeros((n_seg, HASH_BYTES), dtype=np.uint8)
    t37 = np.uint8(37)
    for o, w in zip(off[:-1].tolist(), width.tolist()):
        acc = r[:w]
        acc *= t37
        acc ^= packed[o:o + w]
    out = np.empty_like(r)
    out[order] = r
    return out

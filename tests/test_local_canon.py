"""Local canonicalizer tests: golden labels, fixture menu, metamorphic suite.

Golden values come from the reference's only checked-in unit test
(src/test/java/cl/uchile/dcc/blabel/BlabelTest.java:36-42,97-103) and pin
the full default pipeline bit-exactly: md5 term hashing, colour refinement,
branching, leaf selection, dip + upg muxing, SK00 label rendering.
"""

import random

import pytest

from blabel_spark.canon.local import (
    blank_node_components,
    label_graph,
    render,
)

GOLD_INPUT = [
    ("_:a", "<p>", "_:b"),
    ("_:b", "<p>", "_:c"),
    ("_:c", "<p>", "_:a"),
    ("_:x", "<p>", "_:y"),
    ("_:y", "<p>", "_:z"),
    ("_:z", "<p>", "_:x"),
    ("<u>", "<p>", "<v>"),
]

GOLD_BNODE_OUTPUT = {
    ("<u>", "<p>", "<v>"),
    ("_:SK0036cc1684b47a2ab9d572712e9bf6d4b6", "<p>", "_:SK003e2cfe64ac8abefd0daec5da3bda7422"),
    ("_:SK003e2cfe64ac8abefd0daec5da3bda7422", "<p>", "_:SK00eea00e382802360d4926a9d2a3d2648a"),
    ("_:SK00b18eb44df51d9d026169a1751071c678", "<p>", "_:SK00d9c27c19e1a5093ebd351941c8bd1664"),
    ("_:SK00c122c4399935a5128591dd7d68d9b640", "<p>", "_:SK00b18eb44df51d9d026169a1751071c678"),
    ("_:SK00d9c27c19e1a5093ebd351941c8bd1664", "<p>", "_:SK00c122c4399935a5128591dd7d68d9b640"),
    ("_:SK00eea00e382802360d4926a9d2a3d2648a", "<p>", "_:SK0036cc1684b47a2ab9d572712e9bf6d4b6"),
}


def shuffle_and_rename(triples, seed):
    """Metamorphic variant: random bnode renaming + triple shuffle
    (reference TestFramework.renameBnodesAndShuffle, TestFramework.java:330-359)."""
    rng = random.Random(seed)
    bnodes = sorted({t for tr in triples for t in (tr[0], tr[2])
                     if t.startswith("_:")})
    renamed = list(bnodes)
    rng.shuffle(renamed)
    m = dict(zip(bnodes, (f"_:r{seed}n{i}" for i, _ in enumerate(renamed))))
    out = [(m.get(s, s), p, m.get(o, o)) for s, p, o in triples]
    rng.shuffle(out)
    return out


# ---------------------------------------------------------------------------
# fixture generators (FIXTURES.md §3)
# ---------------------------------------------------------------------------

def cycle(n, tag=""):
    return [(f"_:{tag}c{i}", "<p>", f"_:{tag}c{(i + 1) % n}") for i in range(n)]


def grid(rows, cols):
    """Undirected 2D grid: each edge as two directed triples
    (reference synthetic class, RunSyntheticEvaluation.java:344-365)."""
    t = []
    for r in range(rows):
        for c in range(cols):
            for r2, c2 in ((r + 1, c), (r, c + 1)):
                if r2 < rows and c2 < cols:
                    a, b = f"_:g{r}_{c}", f"_:g{r2}_{c2}"
                    t += [(a, "<e>", b), (b, "<e>", a)]
    return t


def clique(k):
    return [(f"_:k{i}", "<e>", f"_:k{j}")
            for i in range(k) for j in range(k) if i != j]


# ---------------------------------------------------------------------------
# golden tests
# ---------------------------------------------------------------------------

def test_golden_bnode_output():
    res = label_graph(GOLD_INPUT)
    assert set(render(res.graph, "", True)) == GOLD_BNODE_OUTPUT
    assert res.bnode_count == 6
    assert res.partition_count == 2


def test_golden_iri_output():
    res = label_graph(GOLD_INPUT)
    out = set(render(res.graph, "urn:blabel:", False))
    expect = {
        (s.replace("_:", "<urn:blabel:") + (">" if s.startswith("_:") else ""),
         p,
         o.replace("_:", "<urn:blabel:") + (">" if o.startswith("_:") else ""))
        for s, p, o in GOLD_BNODE_OUTPUT}
    assert out == expect


# ---------------------------------------------------------------------------
# invariants across the fixture menu
# ---------------------------------------------------------------------------

FIXTURES = {
    "golden": GOLD_INPUT,
    "cycle5": cycle(5),
    "grid-2x3": grid(2, 3),
    "grid-3x3": grid(3, 3),
    "clique4": clique(4),
    "square-chord": [("_:s0", "<p>", "_:s1"), ("_:s1", "<p>", "_:s2"),
                     ("_:s2", "<p>", "_:s3"), ("_:s3", "<p>", "_:s0"),
                     ("_:s0", "<p>", "_:s2")],
    "iso-partitions": [("_:a", "<p>", "_:b"), ("_:c", "<p>", "_:d")],
    "unconnected-bnode": [("_:u", "<p>", "<g>"), ("<g>", "<q>", "<h>")],
    "mixed-ground": [("_:m", "<p>", '"lit"'), ("<s>", "<p>", "_:m"),
                     ("<s>", "<q>", '"other"@en')],
}


@pytest.mark.parametrize("name", sorted(FIXTURES))
def test_metamorphic_canonical_form(name):
    """All renamed+shuffled variants must produce the identical canonical
    graph (reference invariant, TestFramework.java:95,235-241)."""
    base = label_graph(FIXTURES[name]).graph
    for seed in range(4):
        variant = shuffle_and_rename(FIXTURES[name], seed)
        assert label_graph(variant).graph == base, f"{name} seed={seed}"


@pytest.mark.parametrize("name", sorted(FIXTURES))
def test_idempotence(name):
    """Re-labelling the canonical output must be a fixpoint
    (TestFramework.java:287-289)."""
    once = label_graph(FIXTURES[name]).graph
    twice = label_graph(list(once)).graph
    assert once == twice


@pytest.mark.parametrize("name", sorted(FIXTURES))
def test_prune_equals_noprune(name):
    """Automorphism pruning must not change the canonical result
    (TestFramework.java:113-116 runs both)."""
    assert label_graph(FIXTURES[name], prune=True).graph == \
        label_graph(FIXTURES[name], prune=False).graph


def test_distinct_colors_per_bnode():
    for name, trips in FIXTURES.items():
        res = label_graph(trips)
        assert len(set(res.colors.values())) == res.bnode_count, name


# ---------------------------------------------------------------------------
# dip / upg semantics (GraphLabelling.java:100-119,137-168)
# ---------------------------------------------------------------------------

def test_dip_distinguishes_isomorphic_components():
    trips = [("_:a", "<p>", "_:b"), ("_:c", "<p>", "_:d")]
    with_dip = label_graph(trips, dip=True)
    without = label_graph(trips, dip=False)
    assert len(with_dip.graph) == 2          # kept distinct
    assert len(without.graph) == 1           # collapsed
    assert with_dip.bnode_count == 4
    # reference counts bnodes over the full colour map even when the
    # duplicate component collapsed (GraphLabelling.java:184)
    assert without.bnode_count == 4
    assert len(set(without.colors.values())) == 2


def test_upg_makes_labels_graph_unique():
    g1 = [("_:a", "<p>", "_:b"), ("_:b", "<p>", "_:c")]
    g2 = g1 + [("<q>", "<p>", "<w>")]
    r1 = label_graph(g1, upg=True)
    r2 = label_graph(g2, upg=True)
    # no shared triples when upg=True (different graphs → different mux)
    assert not (set(r1.graph) & set(r2.graph))
    # with upg=False the chain labels are shared (subset)
    r1n = label_graph(g1, upg=False)
    r2n = label_graph(g2, upg=False)
    assert set(r1n.graph) <= set(r2n.graph)


def test_no_bnodes_pass_through():
    trips = [("<a>", "<p>", "<b>"), ("<b>", "<q>", '"x"')]
    res = label_graph(trips)
    assert set(res.graph) == set(trips)
    assert res.bnode_count == 0


def test_components_split():
    comps = blank_node_components(GOLD_INPUT)
    assert len(comps) == 2
    assert sorted(comps) == ["_:a", "_:x"]
    assert all(len(v) == 3 for v in comps.values())


def test_label_triples_raises_on_uncoloured_bnode():
    """A blank node missing from the colour map must fail loudly, not
    leak into the output under its input name."""
    from blabel_spark.canon.local import label_triples
    from blabel_spark.hashing import BLANK_HASH
    trips = [("_:a", "<p>", "_:b"), ("_:a", "<q>", "<c>")]
    out = label_triples(trips, {"_:a": BLANK_HASH, "_:b": BLANK_HASH})
    assert all(not t[0].startswith("_:a") for t in out)
    with pytest.raises(KeyError, match="_:b"):
        label_triples(trips, {"_:a": BLANK_HASH})

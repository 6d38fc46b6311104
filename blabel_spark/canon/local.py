"""Single-machine canonical labelling of one RDF graph (the kernel/oracle).

Re-implements, from scratch in Python, the semantics of the reference's
canonical-labelling stack:

* colour refinement to fixpoint with deterministic collision recovery
  (``label/GraphColouring.java:463-666``),
* individualization/refinement branching over the first non-trivial colour
  class with automorphism/orbit pruning (``GraphColouring.java:180-373``,
  ``label/util/Orbits.java``, ``label/util/RefinablePartition.java``),
* per-component canonical-graph selection + mux (``GraphColouring.java:
  121-168``) and the component-merge / dip / upg logic of
  ``label/GraphLabelling.java:61-192``.

This module serves two roles in the Spark engine:

1. the per-component kernel (run by ``groups.map_groups``) for components the
   distributed fixpoint cannot fully discriminate (automorphic residue —
   branching search does not distribute), and
2. the test oracle the distributed DataFrame loop is verified against.

Terms are plain strings in N3 lexical convention: ``_:label`` blank nodes,
``<iri>`` IRIs, ``"..."`` literals (with optional ``@lang`` / ``^^<dt>``).
Term order is Python string order, matching the reference's
``Node.compareTo`` on N3 strings for all ASCII/BMP data.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from blabel_spark.components import union_find
from blabel_spark.hashing import (
    BLANK_HASH,
    MINUS,
    PLUS,
    HashFamily,
    combine_ordered,
    combine_unordered,
    get_hash_family,
    hash_int,
    hash_string,
)

Triple = tuple[str, str, str]

# Deterministic-recovery constants (GraphColouring.java:52-53).
PRIME = 37
COLLISION_RECOVERY_ATTEMPTS = 5
BNODE_LABEL_PREFIX = "SK00"

# Safety valve for adversarial graphs; the reference uses wall-clock
# timeouts instead (RunNQuadsTest.java:76).
MAX_LEAVES = 50_000


class HashCollisionError(Exception):
    """Unrecoverable md5 collision during refinement (GraphColouring.java:634)."""


class SearchBudgetExceeded(Exception):
    """Branch-and-bound explored more leaves than MAX_LEAVES."""


def is_bnode(term: str) -> bool:
    return term.startswith("_:")


def graph_sort_key(graph: tuple[Triple, ...]) -> tuple:
    """GraphComparator order: size first, then triple-wise lexicographic
    (label/util/GraphComparator.java:23-39)."""
    return (len(graph), graph)


def label_triples(triples: list[Triple], colors: dict[str, bytes]) -> tuple[Triple, ...]:
    """Relabel bnodes as SK00<hex> and return the sorted distinct graph
    (GraphColouring.labelBlankNodes, GraphColouring.java:433-451).

    ``colors`` must hold every blank node of ``triples``: a blank node
    without a colour raises ``KeyError`` instead of passing through
    unrelabelled.  Labels are rendered once per distinct term (one
    .hex() + concat per bnode instead of per occurrence)."""
    rendered: dict[str, str] = {}
    pfx = "_:" + BNODE_LABEL_PREFIX

    def relabel(term: str) -> str:
        c = colors.get(term)
        if c is not None:
            return pfx + c.hex()
        if is_bnode(term):
            raise KeyError(f"blank node {term} has no colour")
        return term

    out = set()
    for s, p, o in triples:
        ns = rendered.get(s)
        if ns is None:
            rendered[s] = ns = relabel(s)
        no = rendered.get(o)
        if no is None:
            rendered[o] = no = relabel(o)
        out.add((ns, p, no))
    return tuple(sorted(out))


def graph_hash(triples: list[Triple], colors: dict[str, bytes],
               static: dict[str, bytes],
               blank: bytes = BLANK_HASH) -> bytes:
    """Order-insensitive whole-graph hash (HashGraph.getGraphHash,
    HashGraph.java:165-181): fold per-triple combineOrdered(h(s),h(p),h(o))
    into a running combineUnordered starting from the blank hash."""
    b = blank
    for s, p, o in triples:
        hs = colors[s] if is_bnode(s) else static[s]
        ho = colors[o] if is_bnode(o) else static[o]
        t = combine_ordered((hs, static[p], ho))
        b = combine_unordered((t, b))
    return b


def ground_subgraph_hash(triples: list[Triple], static: dict[str, bytes],
                         blank: bytes = BLANK_HASH) -> bytes:
    """HashGraph.getGroundSubGraphHash (HashGraph.java:203-221)."""
    b = blank
    for s, p, o in triples:
        if not is_bnode(s) and not is_bnode(o):
            t = combine_ordered((static[s], static[p], static[o]))
            b = combine_unordered((t, b))
    return b


def _invert(colors: dict[str, bytes]) -> dict[bytes, frozenset[str]]:
    """colour → class-of-bnodes (MapTreeSet construction, MapTreeSet.java)."""
    inv: dict[bytes, set[str]] = {}
    for n, c in colors.items():
        inv.setdefault(c, set()).add(n)
    return {c: frozenset(ns) for c, ns in inv.items()}


@dataclass
class _Colouring:
    """One node of the refinement tree (mirror of a GraphColouring instance)."""

    triples: list[Triple]
    static: dict[str, bytes]
    colors: dict[str, bytes]              # bnode → current colour (mutated)
    path: list[str]
    leaves: dict[tuple[Triple, ...], list["_Colouring"]]  # shared
    colour_iters: list[int]               # shared
    prune: bool = True
    # term-hash family (-s selection, LabelRDFGraph.java:150-161); md5 is
    # the reference default and the golden-tested fast path
    hf: "HashFamily" = field(
        default_factory=lambda: get_hash_family("md5"))
    leaf_budget: list[int] = field(default_factory=lambda: [MAX_LEAVES])
    # ordered refinement: list of sorted node tuples (RefinablePartition)
    rfp: list[tuple[str, ...]] = field(default_factory=list)
    part: dict[bytes, frozenset[str]] = field(default_factory=dict)
    # per-component edge structure, built once and shared with every
    # branch child (triples are identical down the search tree):
    # (receivers, static messages precombined — they are constant across
    # rounds AND branches — and dynamic bnode→bnode edges with the
    # pred/marker hashes pre-folded to ints for the C-speed combine)
    edge_plan: tuple | None = None

    # -- colour refinement to fixpoint (GraphColouring.runColouring) --------

    def _build_edge_plan(self) -> tuple:
        """One pass over the component's triples: per receiver, the list
        of CONSTANT (ground-other) messages precombined, and the dynamic
        (bnode-other) edges as (other, h(pred) int, marker int).  Message
        values are bit-identical to the per-round recomputation this
        replaces (GraphColouring.java:505-534 semantics unchanged)."""
        from blabel_spark.hashing import _MUL37  # noqa: F401 (used below)
        static = self.static
        plus, minus = self.hf.plus, self.hf.minus
        plus_i, minus_i = (int.from_bytes(plus, "big"),
                           int.from_bytes(minus, "big"))
        smsgs: dict[str, list[bytes]] = {}
        dedges: dict[str, list[tuple[str, bytes, int]]] = {}
        for s, p, o in self.triples:
            hp = static[p]
            sb, ob = is_bnode(s), is_bnode(o)
            if sb:
                if ob:
                    dedges.setdefault(s, []).append((o, hp, plus_i))
                else:
                    smsgs.setdefault(s, []).append(
                        combine_ordered((static[o], hp, plus)))
            if ob:
                if sb:
                    dedges.setdefault(o, []).append((s, hp, minus_i))
                else:
                    smsgs.setdefault(o, []).append(
                        combine_ordered((static[s], hp, minus)))
        receivers = list(smsgs | dedges)
        return (receivers,
                {k: tuple(v) for k, v in smsgs.items()},
                {k: tuple(v) for k, v in dedges.items()})

    def run_colouring(self) -> int:
        from blabel_spark.hashing import _MUL37
        if self.edge_plan is None:
            self.edge_plan = self._build_edge_plan()
        receivers, smsgs, dedges = self.edge_plan
        n_bytes = self.hf.n_bytes
        self.rfp = [tuple(sorted(self.colors))]
        part = _invert(self.colors)
        r = 0
        while True:
            r += 1
            # J1+A1: per receiver, dynamic messages combineOrdered(h(other),
            # h(pred), marker) recomputed from the current colours, constant
            # messages appended precombined, own previous colour appended,
            # sort (hex order == bytes order), combineOrdered-fold
            # (GraphColouring.java:505-548).
            colors = self.colors
            next_hashes: dict[str, bytes] = {}
            for n in receivers:
                d = dedges.get(n)
                if d:
                    msgs = []
                    for onode, hp, mk_i in d:
                        t = int.from_bytes(
                            colors[onode].translate(_MUL37), "big") \
                            ^ int.from_bytes(hp, "big")
                        t = int.from_bytes(
                            t.to_bytes(n_bytes, "big").translate(_MUL37),
                            "big") ^ mk_i
                        msgs.append(t.to_bytes(n_bytes, "big"))
                    sm = smsgs.get(n)
                    if sm:
                        msgs.extend(sm)
                else:
                    msgs = list(smsgs[n])
                msgs.append(colors[n])
                msgs.sort()
                next_hashes[n] = combine_ordered(msgs)

            new_part = _invert(next_hashes)

            # A4: deterministic collision recovery (GraphColouring.java:
            # 563-635).  A new class must be a subset of its members' old
            # class; otherwise re-mux with rank noise, at most 5 attempts.
            old_class_of = {n: ns for ns in part.values() for n in ns}
            old_hashes_sorted: list[bytes] = []
            i = 0
            while True:
                collided = [ns for c, ns in new_part.items()
                            if not ns <= old_class_of[next(iter(ns))]]
                if collided and i == 0:
                    seen = {self.colors[n] for ns in collided for n in ns}
                    old_hashes_sorted = sorted(seen)
                old_rank = {h: (j + 1) * (i + 1) * PRIME
                            for j, h in enumerate(old_hashes_sorted)}
                for ns in collided:
                    for n in ns:
                        next_hashes[n] = combine_ordered((
                            next_hashes[n], self.colors[n],
                            self.hf.hash_int(old_rank[self.colors[n]])))
                if collided:
                    new_part = _invert(next_hashes)
                i += 1
                if not collided or i >= COLLISION_RECOVERY_ATTEMPTS:
                    break
            if collided:
                raise HashCollisionError(
                    f"unrecoverable collision in round {r}, path {self.path}")

            compl = len(new_part) == len(self.colors)
            done = len(part) == len(new_part) or compl
            part = new_part
            self.colors.update(next_hashes)

            if done:
                self._refine(part)
                self.part = part
            if compl:
                self._add_leaf()
            if done:
                break
        self.colour_iters.append(r)
        return r

    # -- ordered refinement (RefinablePartition.refine) ----------------------

    def _refine(self, part: dict[bytes, frozenset[str]]) -> None:
        """Split classes, new splits ordered by (size, colour-hex of min
        member) (RefinablePartition.java:64-122,163-190)."""
        if len(part) == len(self.rfp):
            return
        class_of = {n: ns for ns in part.values() for n in ns}
        new_rfp: list[tuple[str, ...]] = []
        for rpart in self.rfp:
            first_class = class_of[rpart[0]]
            if len(first_class) != len(rpart):
                splits = {class_of[n] for n in rpart}
                ordered = sorted(
                    splits,
                    key=lambda ns: (len(ns), self.colors[min(ns)].hex()))
                new_rfp.extend(tuple(sorted(ns)) for ns in ordered)
            else:
                new_rfp.append(rpart)
        self.rfp = new_rfp

    def _add_leaf(self) -> None:
        self.leaf_budget[0] -= 1
        if self.leaf_budget[0] < 0:
            raise SearchBudgetExceeded(
                f"more than {MAX_LEAVES} leaves explored")
        g = label_triples(self.triples, self.colors)
        self.leaves.setdefault(g, []).append(self)

    # -- branching (GraphColouring.traverse) ---------------------------------

    def execute(self) -> None:
        self.run_colouring()
        if len(self.part) != len(self.colors):
            self._traverse()

    def _traverse(self) -> None:
        for cls in self.rfp:
            if len(cls) <= 1:
                continue
            visited: list[str] = []
            orbits: _Orbits | None = None
            for n in cls:  # TreeSet order == sorted
                if visited and self.prune:
                    if orbits is None:
                        orbits = _Orbits()
                    if self._prune_sibling(n, visited, orbits):
                        continue
                branch_colors = dict(self.colors)
                # distinguish n (GraphColouring.java:229-233)
                branch_colors[n] = combine_ordered(
                    (branch_colors[n], self.hf.blank))
                child = _Colouring(
                    triples=self.triples, static=self.static,
                    colors=branch_colors, path=self.path + [n],
                    leaves=self.leaves, colour_iters=self.colour_iters,
                    prune=self.prune, hf=self.hf,
                    leaf_budget=self.leaf_budget,
                    edge_plan=self.edge_plan)
                child.execute()
                visited.append(n)
            break  # only the first non-trivial class (GraphColouring.java:250)

    def _prune_sibling(self, nxt: str, visited: list[str],
                       orbits: "_Orbits") -> bool:
        """Skip sibling nxt if a path-rooted automorphism maps it to an
        already-visited sibling (GraphColouring.pruneSibling, :270-373)."""
        orbit = orbits.orbit_of(nxt)
        if orbit and any(v in orbit for v in visited):
            return True
        index = {d: i for i, d in enumerate(self.path)}
        for _, group in sorted(self.leaves.items(),
                               key=lambda kv: graph_sort_key(kv[0])):
            rooted: dict[tuple[int, ...], _Colouring] = {}
            for gc in group:
                indexes = [-1] * len(index)
                if self.path:
                    for i, ts in enumerate(gc.rfp):
                        members = set(ts)
                        for d, slot in index.items():
                            if d in members:
                                indexes[slot] = i
                key = tuple(indexes)
                prev = rooted.get(key)
                if prev is None:
                    rooted[key] = gc
                else:
                    orbits.add_and_compose(_mapping(prev.rfp, gc.rfp))
                    orbit = orbits.orbit_of(nxt)
                    if orbit and any(v in orbit for v in visited):
                        return True
        return False


def _mapping(rfp1: list[tuple[str, ...]],
             rfp2: list[tuple[str, ...]]) -> dict[str, str]:
    """Automorphism between two complete refinements
    (RefinablePartition.getMapping, :133-152)."""
    if len(rfp1) != len(rfp2):
        raise ValueError("refinements differ in size")
    m = {}
    for s1, s2 in zip(rfp1, rfp2):
        if len(s1) != 1 or len(s2) != 1:
            raise ValueError("refinements must be complete")
        m[s1[0]] = s2[0]
    return m


class _Orbits:
    """Union-find over automorphism orbits (label/util/Orbits.java)."""

    def __init__(self) -> None:
        self._class: dict[str, set[str]] = {}

    def add_and_compose(self, auto: dict[str, str]) -> None:
        for k, v in auto.items():
            if k == v:
                continue
            ck, cv = self._class.get(k), self._class.get(v)
            if ck is None and cv is None:
                cls = {k, v}
                self._class[k] = self._class[v] = cls
            elif ck is None:
                cv.add(k)
                self._class[k] = cv
            elif cv is None:
                ck.add(v)
                self._class[v] = ck
            elif ck is not cv:
                small, big = (ck, cv) if len(ck) <= len(cv) else (cv, ck)
                for s in small:
                    big.add(s)
                    self._class[s] = big

    def orbit_of(self, n: str) -> set[str] | None:
        return self._class.get(n)


# ---------------------------------------------------------------------------
# Component split + full-graph labelling (GraphLabelling.call)
# ---------------------------------------------------------------------------

def blank_node_components(triples: list[Triple]) -> dict[str, list[Triple]]:
    """Split triples into connected-bnode components keyed by pivot (the
    minimum bnode of each component); ground triples dropped
    (HashGraph.blankNodePartition, HashGraph.java:260-304)."""
    root = union_find((s, o) for s, _, o in triples
                      if is_bnode(s) and is_bnode(o))
    comps: dict[str, list[Triple]] = {}
    for t in triples:
        s, _, o = t
        b = s if is_bnode(s) else (o if is_bnode(o) else None)
        if b is None:
            continue
        # a root IS its component's minimum bnode — the reference's pivot
        # (TreeSet.first(), HashGraph.java:284-291)
        pivot = root.get(b, b)
        comps.setdefault(pivot, []).append(t)
    return comps


@dataclass
class LabellingResult:
    graph: tuple[Triple, ...]             # canonical labelled graph (sorted)
    colors: dict[str, bytes]              # original bnode → final colour
    bnode_count: int
    partition_count: int
    colour_iterations: int
    leaf_count: int
    unique_graph_hash: bytes | None


def colour_component(triples: list[Triple], static: dict[str, bytes],
                     hf: HashFamily, prune: bool = True,
                     max_leaves: int | None = None) -> tuple[
                         _Colouring, _Colouring]:
    """Colour one blank-node component from blank start colours
    (GraphColouring.traverse, GraphColouring.java:180-253) and return the
    search root and its minimum leaf by ``graph_sort_key``
    (GraphColouring.java:137-141), whose colouring is the component's
    canonical one.  ``static`` caches ground-term hashes; terms it lacks
    are added."""
    for t in triples:
        for term in t:
            if not is_bnode(term) and term not in static:
                static[term] = hf.hash_string(term)
    colors = {n: hf.blank
              for t in triples for n in (t[0], t[2]) if is_bnode(n)}
    col = _Colouring(triples=triples, static=static, colors=colors,
                     path=[], leaves={}, colour_iters=[], prune=prune,
                     hf=hf, leaf_budget=[max_leaves if max_leaves is not None
                                         else MAX_LEAVES])
    col.execute()
    return col, col.leaves[min(col.leaves, key=graph_sort_key)][0]


def _canonical_component(gc: _Colouring, mux: bytes) -> tuple[
        tuple[Triple, ...], dict[str, bytes], bytes]:
    """GraphColouring.getCanonicalGraph (GraphColouring.java:121-168):
    mux combineOrdered(graphHash, mux) into every colour of the minimum
    leaf's colouring ``gc``, relabel."""
    ghc = graph_hash(gc.triples, gc.colors, gc.static, blank=gc.hf.blank)
    comb = combine_ordered((ghc, mux))
    muxed = {n: combine_ordered((c, comb)) for n, c in gc.colors.items()}
    return label_triples(gc.triples, muxed), muxed, comb


def label_graph(triples: list[Triple], dip: bool = True, upg: bool = True,
                prune: bool = True, hash_name: str = "md5",
                max_leaves: int | None = None) -> LabellingResult:
    """Canonically label one RDF graph (GraphLabelling.call, GL:61-192).

    dip: distinguish isomorphic components by muxing a duplicate counter.
    upg: mux a unique graph-level hash into every blank node.

    The input is normalized to a triple SET first — an RDF graph is a set
    and the reference parses into set-backed structures; without this,
    duplicate input rows would fold twice into the unordered graph/upg
    hashes and shift every label (the distributed engine dedupes its
    input identically).
    """
    hf = get_hash_family(hash_name)
    triples = sorted(set(triples))
    static: dict[str, bytes] = {}
    for t in triples:
        for i, term in enumerate(t):
            if is_bnode(term):
                if i == 1:
                    raise ValueError("blank node in predicate position")
            elif term not in static:
                static[term] = hf.hash_string(term)

    comps = blank_node_components(triples)

    full_graph: set[Triple] = set()
    final_colors: dict[str, bytes] = {}
    hashes: list[bytes] = []
    unique_bnodes = 0
    total_iters = 0
    total_leaves = 0
    # duplicate detection among isomorphic components (GL:100-119):
    # mux ints run 0 for the first copy then count+1 = 2, 3, ... for dups.
    graphs_seen: dict[tuple[Triple, ...], int] = {}

    for pivot in sorted(comps):
        col, leaf = colour_component(comps[pivot], static, hf, prune,
                                     max_leaves)
        total_iters += sum(col.colour_iters)
        total_leaves += sum(len(v) for v in col.leaves.values())

        mapped, comp_colors, comb = _canonical_component(leaf, hf.hash_int(0))
        count = graphs_seen.get(mapped)
        if count is None:
            graphs_seen[mapped] = 1
            hashes.append(comb)
            unique_bnodes += len(comp_colors)
        else:
            graphs_seen[mapped] = count + 1
            if dip:
                mapped, comp_colors, comb = _canonical_component(
                    leaf, hf.hash_int(count + 1))
                hashes.append(comb)
                unique_bnodes += len(comp_colors)
        full_graph.update(mapped)
        final_colors.update(comp_colors)

    ghash: bytes | None = None
    if upg:
        # mux a unique graph-level hash into every bnode (GL:137-150)
        ground = ground_subgraph_hash(triples, static, blank=hf.blank)
        ghash = combine_unordered(hashes + [ground])
        final_colors = {n: combine_ordered((c, ghash))
                        for n, c in final_colors.items()}
        full_graph = set(label_triples(list(triples), final_colors)) \
            if final_colors else {t for t in triples}
    else:
        for t in triples:
            if not is_bnode(t[0]) and not is_bnode(t[2]):
                full_graph.add(t)

    if len(set(final_colors.values())) != unique_bnodes:
        raise HashCollisionError(
            f"colour collision: {unique_bnodes} bnodes, "
            f"{len(set(final_colors.values()))} colours")

    return LabellingResult(
        graph=tuple(sorted(full_graph)),
        colors=final_colors,
        bnode_count=len(final_colors),
        partition_count=len(comps),
        colour_iterations=total_iters,
        leaf_count=total_leaves,
        unique_graph_hash=ghash,
    )


def render(graph: tuple[Triple, ...], prefix: str = "",
           as_bnode: bool = True) -> list[Triple]:
    """Render SK00 labels as bnodes or IRIs with a prefix
    (label/util/GraphLabelIterator.java:32-52)."""
    def rel(t: str) -> str:
        if is_bnode(t):
            label = t[2:]
            return "_:" + prefix + label if as_bnode else f"<{prefix}{label}>"
        return t

    return [(rel(s), p, rel(o)) for s, p, o in graph]

"""Connected components: both routes of ``components.components``, grouped
and ungrouped, against a breadth-first search written here; and the
package holds one union-find."""

import pathlib
from collections import defaultdict, deque

import pytest

from blabel_spark import ckpt_util, components

PKG = pathlib.Path(components.__file__).parent


def _rows():
    """(group, a, b) edges.  g1: a 70-node chain with a self-loop on one
    member, a duplicated reversed pair, an isolated node and a lone
    self-loop; g2 reuses g1's node names with other edges."""
    g1 = [(i, i + 1) for i in range(69)]
    g1 += [(5, 5), (701, 700), (700, 701), (701, 700), (500, 500), (600, 600)]
    g2 = [(3, 60), (0, 0), (700, 999), (42, 42)]
    return [("g1", a, b) for a, b in g1] + [("g2", a, b) for a, b in g2]


def _bfs(rows):
    """{(group, node, comp)}: comp is the minimum node reached by BFS."""
    adj = defaultdict(set)
    for g, a, b in rows:
        adj[(g, a)].add((g, b))
        adj[(g, b)].add((g, a))
    seen, out = set(), set()
    for start in adj:
        if start in seen:
            continue
        seen.add(start)
        members, queue = [start], deque([start])
        while queue:
            for n in adj[queue.popleft()]:
                if n not in seen:
                    seen.add(n)
                    members.append(n)
                    queue.append(n)
        root = min(n for _, n in members)
        out |= {(g, n, root) for g, n in members}
    return out


@pytest.mark.parametrize("route", ["kernel", "loop"])
@pytest.mark.parametrize("kind", ["long", "string"])
@pytest.mark.parametrize("grouped", [True, False])
def test_components_match_bfs(spark, monkeypatch, route, kind, grouped):
    rows = _rows()
    if kind == "string":
        rows = [(g, f"v{a}", f"v{b}") for g, a, b in rows]
    if not grouped:
        rows = [r for r in rows if r[0] == "g1"]
    want = _bfs(rows)
    if not grouped:
        want = {(n, c) for _, n, c in want}
    df = spark.createDataFrame(rows, f"g string, a {kind}, b {kind}")
    if not grouped:
        df = df.drop("g")
    if route == "loop":
        monkeypatch.setattr(components, "KERNEL_ROWS", 0)
    with ckpt_util.scope():
        out = components.components(df, ["g"] if grouped else [])
        # the loop returns its checkpointed state, the kernel a lazy plan
        assert (ckpt_util.ckpt_rdd(out) is not None) == (route == "loop")
        assert out.columns == (["g"] if grouped else []) + ["node", "comp"]
        got = [tuple(r) for r in out.collect()]
    assert len(got) == len(want) and set(got) == want


def test_components_rows_bound_skips_the_measuring_job(spark):
    """A caller-known bound routes without a job; the kernel's output is
    lazy, so building it runs none."""
    from blabel_spark.obs import phase
    df = spark.createDataFrame(_rows(), "g string, a long, b long")
    with phase("components_build") as rec:
        out = components.components(df, ["g"], rows_bound=len(_rows()))
    assert rec["n_jobs"] == 0
    assert {tuple(r) for r in out.collect()} == _bfs(_rows())


def test_union_find_roots_are_minimum_members():
    root = components.union_find([(5, 3), (9, 9), (3, 7), (8, 7)])
    assert root == {5: 3, 3: 3, 9: 9, 7: 3, 8: 3}


def test_union_find_only_in_components():
    users = sorted(str(p.relative_to(PKG)) for p in PKG.rglob("*.py")
                   if "def find(" in p.read_text())
    assert users == ["components.py"], users

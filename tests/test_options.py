"""The engine's entry points take only the options their callers set.
Every other tuning value is a module constant read on the driver at call
time (tests set one with ``monkeypatch.setattr``), so an option removed
from a signature cannot come back unnoticed.  Needs no Spark session."""

import inspect

import pytest

from blabel_spark.canon.distributed import canonicalize, canonicalize_by_graph
from blabel_spark.lean.bfs import bfs_lean_graph
from blabel_spark.lean.distributed import lean_graphs, trivial_prepass

SIGNATURES = [
    (canonicalize, "spark, triples, *, dip, upg, hash_name, route, "
                   "kernel_graph_rows, checkpoint_dir"),
    (canonicalize_by_graph, "spark, triples, *, hash_name, dip, upg"),
    (lean_graphs, "spark, triples"),
    (trivial_prepass, "spark, triples"),
    (bfs_lean_graph, "spark, gtriples"),
]


def _render(fn) -> str:
    """Parameter names in order, with ``*`` before the keyword-only ones."""
    out, star = [], False
    for p in inspect.signature(fn).parameters.values():
        if p.kind is p.KEYWORD_ONLY and not star:
            out.append("*")
            star = True
        out.append(p.name)
    return ", ".join(out)


@pytest.mark.parametrize("fn, want", SIGNATURES,
                         ids=[fn.__name__ for fn, _ in SIGNATURES])
def test_entry_point_options(fn, want):
    assert _render(fn) == want

"""The per-group kernel runner (``groups.map_groups``): its partition
function on hand-cut Arrow batch streams, without Spark; the runner on
Spark with batches smaller than a group; and the package dispatching
every grouped kernel through it."""

import pathlib

import pandas as pd
import pytest

from blabel_spark import groups

PKG = pathlib.Path(groups.__file__).parent


def _run(rows, cuts, keys):
    """Feed ``rows`` (key-sorted) to the partition function as batches cut
    at ``cuts``; return the frames ``fn`` saw as (key, values) and the
    rows it emitted."""
    frame = pd.DataFrame(rows, columns=["g", "c", "v"])
    bounds = [0, *cuts, len(rows)]
    batches = [frame.iloc[a:b].reset_index(drop=True)
               for a, b in zip(bounds, bounds[1:])]
    seen = []

    def fn(pdfs):
        for pdf in pdfs:
            key = tuple(pdf[k].iloc[0] for k in keys)
            seen.append((key, list(pdf["v"])))
            yield (*key, len(pdf))

    out = list(groups._partition(iter(batches), keys, fn, [*keys, "n"]))
    return seen, out


def _expected(rows, keys):
    """(key, values) per key in first-appearance order."""
    idx = [("g", "c", "v").index(k) for k in keys]
    want: dict = {}
    for r in rows:
        want.setdefault(tuple(r[i] for i in idx), []).append(r[2])
    return list(want.items())


CASES = {
    # 'b' spans four batches, one of them empty; the first batch ends
    # exactly where 'a' ends; NULL keys sort first and form one group
    "spanning": ([(None, "x", i) for i in range(2)]
                 + [("a", "x", i) for i in range(3)]
                 + [("b", "x", i) for i in range(25)]
                 + [("c", "x", 0)],
                 [5, 12, 12, 20, 29], ["g"]),
    "many_per_batch": ([(f"g{i:03}", "x", j) for i in range(60)
                        for j in range(3)], [100], ["g"]),
    # graph_id repeats across comps; batches end where only the comp
    # changes, and where only the graph changes
    "two_keys": ([("g1", c, i) for c in ("c1", "c2", "c3")
                  for i in range(4)]
                 + [("g2", c, i) for c in ("c3", "c4") for i in range(4)],
                 [8, 12, 14], ["g", "c"]),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_partition_reaches_fn_once_per_key(case):
    rows, cuts, keys = CASES[case]
    seen, out = _run(rows, cuts, keys)
    want = _expected(rows, keys)
    assert seen == want
    got = [tuple(r) for f in out for r in f.itertuples(index=False)]
    assert got == [(*k, len(v)) for k, v in want]


def test_partition_packs_rows_into_bounded_frames(monkeypatch):
    monkeypatch.setattr(groups, "_OUT_ROWS", 7)
    rows, cuts, keys = CASES["many_per_batch"]
    _, out = _run(rows, cuts, keys)
    assert [len(f) for f in out] == [7] * 8 + [4]
    assert list(out[0].columns) == ["g", "n"]
    assert not list(groups._partition(iter([]), keys,
                                      lambda pdfs: (len(p) for p in pdfs),
                                      keys))


def test_map_groups_on_spark_with_small_batches(spark):
    """Groups larger than an Arrow batch still arrive whole, once, and
    the plan is one hash exchange, one sort and one Python stage."""
    rows = CASES["two_keys"][0] * 3
    df = spark.createDataFrame(rows, "g string, c string, v long")

    def fn(pdfs):
        for pdf in pdfs:
            yield (pdf["g"].iloc[0], pdf["c"].iloc[0], len(pdf),
                   int(pdf["v"].sum()))

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        out = groups.map_groups(df, ["g", "c"], fn,
                                "g string, c string, n long, s long")
        plan = out._jdf.queryExecution().executedPlan().toString()
        got = sorted(map(tuple, out.collect()))
    finally:
        spark.conf.set(key, old)
    want = sorted((k[0], k[1], len(v), sum(v))
                  for k, v in _expected(rows, ["g", "c"]))
    assert got == want
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Sort [") == 1, plan
    assert plan.count("MapInPandas") == 1, plan


def test_no_grouped_pandas_dispatch_outside_the_runner():
    """Every per-group kernel goes through ``map_groups``; the stateful
    streaming sessionizer (``applyInPandasWithState``) is another API."""
    hits = [f"{p.relative_to(PKG)}:{i}"
            for p in sorted(PKG.rglob("*.py"))
            for i, line in enumerate(p.read_text().splitlines(), 1)
            if ".applyInPandas(" in line]
    assert not hits, hits

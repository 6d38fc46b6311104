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


def test_capped_partition_hands_oversized_groups_to_over():
    """With a cap, ``fn`` sees only the small groups, each once and
    whole, one call per run of them; every row of an oversized group
    comes back through ``over``, one batch slice at a time."""
    sizes = [("a", 3), ("b", 11), ("c", 2), ("d", 4), ("e", 7)]
    rows = [(g, "x", 0) for g, n in sizes for _ in range(n)]
    frame = pd.DataFrame(rows, columns=["g", "c", "v"])
    frame["v"] = range(len(frame))   # row number: 'b' 3-13, 'e' 20-26
    frame[groups._SIZE] = frame.groupby("g")["g"].transform("size")
    cuts = [2, 5, 9, 15, 17, 19, 25]
    bounds = [0, *cuts, len(frame)]
    batches = [frame.iloc[a:b].reset_index(drop=True)
               for a, b in zip(bounds, bounds[1:])]
    batch_of = {v: i for i, f in enumerate(batches) for v in f["v"]}
    seen, calls, slices = [], [], []

    def fn(pdfs):
        calls.append(1)
        for pdf in pdfs:
            seen.append((pdf["g"].iloc[0], list(pdf["v"])))
            yield pdf["g"].iloc[0], "k", len(pdf)

    def over(pdf):
        assert groups._SIZE not in pdf.columns
        slices.append(list(pdf["v"]))
        return ((g, "p", v) for g, v in zip(pdf["g"], pdf["v"]))

    out = pd.concat(groups._capped(iter(batches), ["g"], fn,
                                   ["g", "kind", "n"], 4, over))
    small = {g for g, n in sizes if n <= 4}
    want = [(g, list(frame.index[frame["g"] == g]))
            for g, _ in sizes if g in small]
    assert seen == want
    assert len(calls) == 2          # runs [a] and [c, d]
    big_rows = list(frame.index[~frame["g"].isin(small)])
    assert [v for s in slices for v in s] == big_rows
    assert all(len({batch_of[v] for v in s}) == 1 for s in slices)
    assert len(slices) > 2          # 'b' and 'e' both span batches
    got = [tuple(r) for r in out.itertuples(index=False)]
    assert sorted(r for r in got if r[1] == "p") == \
        [("b", "p", v) for v in range(3, 14)] + \
        [("e", "p", v) for v in range(20, 27)]
    assert sorted(r for r in got if r[1] == "k") == \
        sorted((g, "k", n) for g, n in sizes if g in small)


def test_capped_map_groups_on_spark_with_small_batches(spark):
    """An oversized group never reaches ``fn`` (a spy raises inside the
    worker) and comes back whole through ``over``; the plan is still one
    hash exchange, one sort and one Python stage."""
    sizes = {"a": 2, "b": 9, "c": 4, "d": 1, "e": 6, None: 3}
    rows = [(g, i) for g, n in sizes.items() for i in range(n)]
    df = spark.createDataFrame(rows, "g string, v long")
    cap = 4

    def fn(pdfs):
        for pdf in pdfs:
            if len(pdf) > cap:
                raise AssertionError(f"oversized group reached fn: {pdf}")
            yield pdf["g"].iloc[0], "k", len(pdf)

    def over(pdf):
        return ((g, "p", v) for g, v in zip(pdf["g"], pdf["v"]))

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        out = groups.map_groups(df, ["g"], fn, "g string, kind string, "
                                "n long", max_rows=cap, over=over)
        plan = out._jdf.queryExecution().executedPlan().toString()
        got = out.collect()
    finally:
        spark.conf.set(key, old)
    key_of = lambda g: (g is not None, g)   # noqa: E731
    assert sorted(((r.g, r.n) for r in got if r.kind == "k"),
                  key=lambda t: key_of(t[0])) == \
        sorted(((g, n) for g, n in sizes.items() if n <= cap),
               key=lambda t: key_of(t[0]))
    assert sorted(((r.g, r.n) for r in got if r.kind == "p"),
                  key=lambda t: (key_of(t[0]), t[1])) == \
        sorted(((g, i) for g, n in sizes.items() if n > cap
                for i in range(n)), key=lambda t: (key_of(t[0]), t[1]))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Sort [") == 1, plan
    assert plan.count("MapInPandas") == 1, plan

"""Per-group Python kernels on Spark: the engine's one runner.

blabel leans and labels one graph at a time (RunNQuadsTest.java:257-451)
and colours one blank-node component at a time (GraphLabelling.java:
155-168); ``map_groups`` runs such a kernel over every group at once.
"""

from __future__ import annotations

from itertools import groupby, islice

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructType

_OUT_ROWS = 10_000   # rows per output frame: one default Arrow batch
_SIZE = "__group_rows"   # the capped runner's per-row group size


def map_groups(df: DataFrame, keys: list[str], fn,
               schema: StructType | str, max_rows: int | None = None,
               over=None) -> DataFrame:
    """Run ``fn`` over the groups of ``df`` by ``keys`` in one hash
    exchange, one sort and one ``mapInPandas`` pass that cuts each Arrow
    batch at key changes, so a task's Python memory is one batch plus its
    largest group.  Per partition, ``fn`` gets an iterator of complete
    per-key pandas frames in key order (each key once; NULL keys form a
    group, as in ``groupBy``) and yields output rows as tuples in
    ``schema`` order; state it sets up before its loop lives as long as
    the partition.

    With ``max_rows`` set, a group of more rows never reaches ``fn``:
    each batch slice of it goes to ``over(pdf)``, which yields output
    rows in ``schema`` order like ``fn``.  The group size is a window
    count that rides the same exchange and sort, and a task's Python
    memory is one batch plus its largest group under the cap.  ``fn`` is
    then called once per run of small groups between oversized ones, so
    its state lives per run, not per partition."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    names = schema.fieldNames()
    if max_rows is None:
        return (df.repartition(*keys).sortWithinPartitions(*keys)
                .mapInPandas(lambda batches: _partition(
                    batches, keys, fn, names), schema))
    # the window's own exchange and sort by ``keys`` are the runner's; the
    # sort below only states the order the batches rely on and is elided
    sized = df.withColumn(_SIZE, F.count(F.lit(1)).over(
        Window.partitionBy(*keys)))
    return (sized.sortWithinPartitions(*keys)
            .mapInPandas(lambda batches: _capped(
                batches, keys, fn, names, max_rows, over), schema))


def _partition(batches, keys, fn, names):
    """The ``mapInPandas`` body: ``fn``'s rows, packed into frames."""
    yield from _packed(fn(_groups(batches, keys)), names)


def _capped(batches, keys, fn, names, max_rows, over):
    """The capped ``mapInPandas`` body: each run of small groups goes
    through ``_partition``, each slice of an oversized group to ``over``."""
    for big, run in groupby(_segments(batches, max_rows), lambda s: s[0]):
        frames = (pdf for _, pdf in run)
        if big:
            for pdf in frames:
                yield from _packed(over(pdf), names)
        else:
            yield from _partition(frames, keys, fn, names)


def _segments(batches, max_rows):
    """``(oversized, slice)`` per run of a batch's rows on the same side
    of the cap, the size column dropped."""
    for pdf in batches:
        if not len(pdf):
            continue
        big = pdf[_SIZE].to_numpy() > max_rows
        bounds = [0, *(np.flatnonzero(big[1:] != big[:-1]) + 1), len(pdf)]
        pdf = pdf.drop(columns=_SIZE)
        for a, b in zip(bounds, bounds[1:]):
            yield bool(big[a]), pdf.iloc[a:b]


def _packed(rows, names):
    """Output rows as frames of at most ``_OUT_ROWS`` rows."""
    rows = iter(rows)
    while chunk := list(islice(rows, _OUT_ROWS)):
        yield pd.DataFrame(chunk, columns=names)


def _groups(batches, keys):
    """Complete per-key frames of a key-sorted batch stream.  A batch's
    last run may go on in the next batch, so its raw rows are held until
    a batch starts with another key or the stream ends."""
    held: list[pd.DataFrame] = []
    for pdf in batches:
        if not len(pdf):
            continue
        # the held run's last row leads, so a cut at 0 closes that run
        lead = held[-1].iloc[-1:] if held else pdf.iloc[:1]
        start = 0
        for cut in _cuts(pd.concat([lead[keys], pdf[keys]])) - 1:
            yield _join([*held, pdf.iloc[start:cut]])
            held, start = [], cut
        held.append(pdf.iloc[start:])
    if held:
        yield _join(held)


def _cuts(keys: pd.DataFrame) -> np.ndarray:
    """Row offsets at which a key-sorted frame's key changes; NULLs are
    one key, as in ``groupBy``."""
    ids = keys.groupby(list(keys.columns), sort=False,
                       dropna=False).ngroup().to_numpy()
    return np.flatnonzero(ids[1:] != ids[:-1]) + 1


def _join(frames: list[pd.DataFrame]) -> pd.DataFrame:
    frames = [f for f in frames if len(f)]
    return frames[0] if len(frames) == 1 else pd.concat(frames,
                                                        ignore_index=True)

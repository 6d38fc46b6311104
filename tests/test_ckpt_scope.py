"""Checkpoint ownership: every ``localCheckpoint`` goes through
``ckpt_util.checkpoint``, and nothing checkpointed inside a
``ckpt_util.scope()`` outlives it unless it was kept."""

import pathlib

import pytest

from blabel_spark import ckpt_util
from blabel_spark.queries import QUERIES
from tests.test_queries_oracle import SF

PKG = pathlib.Path(ckpt_util.__file__).parent


def _persistent_ids(spark):
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def test_local_checkpoint_only_in_ckpt_util():
    users = sorted(str(p.relative_to(PKG)) for p in PKG.rglob("*.py")
                   if p.name != "ckpt_util.py"
                   and "localCheckpoint(" in p.read_text())
    assert users == [], f"localCheckpoint outside ckpt_util: {users}"


def test_observation_only_in_ckpt_util_and_io():
    """Row counts of written or checkpointed tables are observed through
    ``ckpt_util.counted`` and ``sources.io.write_counted`` only."""
    users = sorted(p.relative_to(PKG).as_posix() for p in PKG.rglob("*.py")
                   if "Observation(" in p.read_text())
    assert users == ["ckpt_util.py", "sources/io.py"]


def test_counted_matches_count(spark):
    from pyspark.sql import functions as F
    df = spark.range(50).repartition(3)
    for where in (None, "id % 3 = 0", F.col("id") < 10):
        with ckpt_util.scope():
            out, n = ckpt_util.counted(df, where)
            assert n == (df if where is None else df.where(where)).count()
            assert out.count() == 50
    for empty in (spark.range(0), spark.createDataFrame([], "id long"),
                  df.where("id < 0").groupBy("id").count()):
        with ckpt_util.scope():
            assert ckpt_util.counted(empty)[1] == 0


def test_counted_blocks_released_on_scope_exit(spark):
    before = _persistent_ids(spark)
    with ckpt_util.scope():
        out, n = ckpt_util.counted(spark.range(11))
        assert n == 11
        assert ckpt_util.ckpt_rdd(out).id() in _persistent_ids(spark)
    assert _persistent_ids(spark) - before == set()


def test_counted_runs_fewer_jobs_than_checkpoint_then_count(spark):
    from pyspark.sql import functions as F

    from blabel_spark import obs
    df = (spark.range(200).repartition(4)
          .groupBy((F.col("id") % 7).alias("k")).count())
    with obs.phase("lazy_then_count") as lazy, ckpt_util.scope():
        assert ckpt_util.checkpoint(df, eager=False).count() == 7
    with obs.phase("counted") as observed, ckpt_util.scope():
        assert ckpt_util.counted(df)[1] == 7
    assert observed["n_jobs"] < lazy["n_jobs"]


def test_scope_keep_release_and_exit(spark):
    """keep hands blocks to the enclosing scope, release unpersists only
    blocks the scope holds, and exit — also by exception — releases the
    rest."""
    outside = spark.range(5).localCheckpoint(True)
    before = _persistent_ids(spark)
    with ckpt_util.scope() as outer:
        with ckpt_util.scope() as inner:
            kept = ckpt_util.checkpoint(spark.range(7))
            dropped = ckpt_util.checkpoint(spark.range(9), eager=False)
            assert len(inner.keep(kept)) == 1
            inner.release(outside)   # not held here: untouched
        assert kept.count() == 7
        assert ckpt_util.ckpt_rdd(dropped).id() not in \
            _persistent_ids(spark)
        assert len(_persistent_ids(spark) - before) == 1
        outer.release(kept)
        assert _persistent_ids(spark) - before == set()
    with pytest.raises(ValueError):
        with ckpt_util.scope():
            ckpt_util.checkpoint(spark.range(3))
            raise ValueError
    assert _persistent_ids(spark) - before == set()
    assert ckpt_util.ckpt_rdd(outside).id() in _persistent_ids(spark)
    ckpt_util.release([ckpt_util.ckpt_rdd(outside)])


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_leaves_no_blocks_after_scope(spark, name):
    """Only ids new since ``before`` are checked: the ContextCleaner may
    drop older RDDs while the query runs."""
    before = _persistent_ids(spark)
    with ckpt_util.scope():
        QUERIES[name](spark, SF).collect()
    left = _persistent_ids(spark) - before
    assert not left, f"{name} left {len(left)} persistent RDDs"


def test_counted_observes_several_conditions_in_one_job(spark):
    from pyspark.sql import functions as F

    from blabel_spark import obs
    df = spark.range(0, 60, numPartitions=3)
    with obs.phase("two_counts") as rec, ckpt_util.scope():
        out, n3, n_small, n_all = ckpt_util.counted(
            df, "id % 3 = 0", F.col("id") < 10, None)
    assert (n3, n_small, n_all) == (20, 10, 60)
    assert rec["n_jobs"] == 1
    with ckpt_util.scope():
        out, n = ckpt_util.counted(df.where("id < 0"), "id % 3 = 0")
        assert n == 0 and out.count() == 0

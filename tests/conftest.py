import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[4]")
         .appName("planetiler_spark_tests")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "4g")
         .getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def shuffle_partitions(spark):
    """Set spark.sql.shuffle.partitions for one test, restored after."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    yield lambda p: spark.conf.set(key, str(p))
    spark.conf.set(key, old)


def assert_hilbert_order(rows):
    """Archive order: hilbert_id strictly ascends over the rows as the
    partitions hand them out, and is each tile's PMTiles id."""
    from planetiler_spark.kernels import tile_math as tm

    hid = np.array([r.hilbert_id for r in rows], dtype=np.int64)
    assert len(hid) and np.all(np.diff(hid) > 0)
    xyz = (np.array([r.x for r in rows]), np.array([r.y for r in rows]),
           np.array([r.zoom for r in rows]))
    assert hid.tolist() == tm.hilbert_encode(*xyz).tolist()
    assert [r.tile_id for r in rows] == tm.tile_encode(*xyz).tolist()


def _plan_children(node):
    """A physical plan node's children, looking through adaptive plans and
    query stages."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _shuffle_exchanges(node):
    """ShuffleExchangeExec nodes of an executed (possibly adaptive) plan."""
    found = [node] if node.getClass().getSimpleName() == "ShuffleExchangeExec" else []
    for kid in _plan_children(node):
        found += _shuffle_exchanges(kid)
    return found


def _packed_exchanges(df, p=4):
    """(every ShuffleExchangeExec of df's plan, those whose input is
    bucket-packed (bucket, tok_p{p}, blob) rows)."""
    from planetiler_spark.operators import partitioning as pt

    exs = _shuffle_exchanges(df._jdf.queryExecution().executedPlan())

    def names(ex):
        out = ex.child().output()
        return [out.apply(i).name() for i in range(out.size())]

    return exs, [ex for ex in exs
                 if names(ex) == ["bucket", pt.token_col(p), "blob"]]


def _python_maps_above(df, node):
    """How many MapInArrow nodes of df's executed plan lie on the path from
    its root down to `node`."""
    def path(n):
        if n.equals(node):
            return [n]
        for kid in _plan_children(n):
            found = path(kid)
            if found is not None:
                return [n] + found
        return None

    nodes = path(df._jdf.queryExecution().executedPlan())
    assert nodes is not None, "node is not in the plan"
    return sum("MapInArrow" in n.getClass().getSimpleName() for n in nodes)


def _written_job(monkeypatch, tiles, path):
    """write_pmtiles(tiles, path) with its range sort forbidden; (stats,
    the one frame the write collected: its part-writer job)."""
    from pyspark.sql.classic.dataframe import DataFrame

    from planetiler_spark.sources import archives as ar

    def no_sort(df):
        raise AssertionError("write_pmtiles re-sorted an ordered tileset")

    jobs = []
    collect = DataFrame.collect

    def spy(self):
        jobs.append(self)
        return collect(self)

    with monkeypatch.context() as m:
        m.setattr(ar, "_pm_sorted", no_sort)
        m.setattr(DataFrame, "collect", spy)
        stats = ar.write_pmtiles(tiles, path)
    assert len(jobs) == 1
    return stats, jobs[0]

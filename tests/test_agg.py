"""Golden-frame tests ported from /root/reference/dfpipeline/tests/test_agg.py."""
import pandas as pd
import pytest
from lookup_cases import assert_lookup_rule, executed

import dataframe_pipeline_spark as dfp
from tests.conftest import assert_frames_equal


def _df(spark):
    return spark.createDataFrame(
        pd.DataFrame({
            "col1": [2, 2, 4, 4],
            "col2": ["device-1", "device-1", "device-2", "device-2"],
        })
    )


def test_mean(spark):
    agg = dfp.Aggregator(inputs=["col1"], outputs=["mean"], func="mean")
    out = agg.fit_transform(_df(spark))
    assert_frames_equal(out, pd.DataFrame({
        "col1": [2, 2, 4, 4],
        "col2": ["device-1", "device-1", "device-2", "device-2"],
        "mean": [3.0, 3.0, 3.0, 3.0],
    }))


def test_groupby_mean(spark):
    agg = dfp.Aggregator(inputs=["col1"], outputs=["mean_to_col2"], groupby=["col2"], func="mean")
    out = agg.fit_transform(_df(spark))
    assert_frames_equal(out, pd.DataFrame({
        "col1": [2, 2, 4, 4],
        "col2": ["device-1", "device-1", "device-2", "device-2"],
        "mean_to_col2": [2.0, 2.0, 4.0, 4.0],
    }))


def test_groupby_count(spark):
    agg = dfp.Aggregator(inputs=["col2"], outputs=["count"], groupby=["col2"], func="count")
    out = agg.fit_transform(_df(spark))
    assert_frames_equal(out, pd.DataFrame({
        "col1": [2, 2, 4, 4],
        "col2": ["device-1", "device-1", "device-2", "device-2"],
        "count": [2, 2, 2, 2],
    }))


def test_groupby_std_unseen_key(spark):
    """Transform on a frame containing a key unseen at fit → NULL (pandas map miss)."""
    agg = dfp.Aggregator(inputs=["col1"], outputs=["std_to_col2"], groupby=["col2"], func="std")
    agg.fit(_df(spark))
    test = spark.createDataFrame(
        pd.DataFrame({"col1": [1, 1], "col2": ["device-1", "device-9"]})
    )
    out = agg.transform(test)
    assert_frames_equal(out, pd.DataFrame({
        "col1": [1, 1],
        "col2": ["device-1", "device-9"],
        "std_to_col2": [0.0, None],
    }))


def test_sketch_aggregates_close_to_exact(spark):
    """approx_nunique (HLL++) and approx_median (percentile_approx)
    track their exact counterparts within the configured error — the
    bounded-memory tier for groups too hot for exact distinct/percentile
    at scale."""
    from dataframe_pipeline_spark.operators import Aggregator

    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    a1 = Aggregator(inputs=["l_partkey"], outputs=["nu"],
                    groupby=["l_returnflag"], func="approx_nunique").fit(li)
    e1 = Aggregator(inputs=["l_partkey"], outputs=["nu"],
                    groupby=["l_returnflag"], func="nunique").fit(li)
    a2 = Aggregator(inputs=["l_extendedprice"], outputs=["md"],
                    groupby=["l_returnflag"], func="approx_median").fit(li)
    e2 = Aggregator(inputs=["l_extendedprice"], outputs=["md"],
                    groupby=["l_returnflag"], func="median").fit(li)

    def vals(agg):
        out = agg.transform(li).select("l_returnflag", agg.outputs[0])
        return {r[0]: r[1] for r in out.distinct().collect()}

    av, ev = vals(a1), vals(e1)
    for k in ev:
        assert abs(av[k] - ev[k]) / ev[k] < 0.05, (k, av[k], ev[k])
    av, ev = vals(a2), vals(e2)
    for k in ev:
        assert abs(av[k] - ev[k]) / ev[k] < 0.05, (k, av[k], ev[k])


def test_fit_transform_broadcasts_held_lookup(spark, no_auto_broadcast):
    """fit_transform over one frame applies the fitted lookup, held on
    the driver, with no window, no shuffle of the fact and no second
    scan of it: the 10-supplier table is a literal map, and a broadcast
    LocalRelation with ``INLINE_MAX_ROWS`` 0 (``assert_lookup_rule``
    pins the three plans).  Transform over a DIFFERENT frame gives the
    same values, for windowable and group-collecting funcs alike."""
    from dataframe_pipeline_spark import base
    from dataframe_pipeline_spark.operators import Aggregator

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    for func in ("mean", "median"):
        def agg():
            return Aggregator(inputs=["l_extendedprice"], outputs=["m"],
                              groupby=["l_suppkey"], func=func)

        assert_lookup_rule(spark, lambda: agg().fit_transform(li))
        for limit in (base.INLINE_MAX_ROWS, 0):
            with pytest.MonkeyPatch.context() as m:
                m.setattr(base, "INLINE_MAX_ROWS", limit)
                a1 = agg()
                fused = a1.fit_transform(li)
                joined = a1.transform(li.select("*"))
            plan = executed(fused)
            assert "Window" not in plan
            assert "hashpartitioning" not in plan  # fact not shuffled
            assert plan.count("FileScan") == 1
            assert ("LocalTableScan" in plan) == (limit == 0)

            cols = ("l_orderkey", "l_linenumber", "m")
            a = sorted(map(tuple, fused.select(*cols).collect()))
            b = sorted(map(tuple, joined.select(*cols).collect()))
            assert a == b


def test_global_mean_is_correctly_rounded(spark):
    """A global ``mean`` is the correctly rounded mean, as Imputer's is.
    Spark's ``avg`` sums each partition in order: laid out in 3
    partitions, ``[0.0, 0.5, 2**-149, -0.5]`` averages to 0.0 there, for
    a mean of 2**-151."""
    xs = [0.0, 0.5, 2.0 ** -149, -0.5]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize([(x,) for x in xs], 3), "x double")
    agg = dfp.Aggregator(inputs=["x"], outputs=["x_mean"], func="mean")
    assert agg.fit(df).vals == [2.0 ** -151]
    assert {r.x_mean for r in agg.transform(df).collect()} == {2.0 ** -151}

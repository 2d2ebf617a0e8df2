"""Exact percentiles: Imputer(median), Scaler(robust),
OutlierClipper(exact=True) and QuantileBinner must learn exactly what
Spark's ``percentile()`` (which matches DuckDB's ``quantile_cont``)
returns, across shapes, including the interpolation arithmetic, and
each must do it in one aggregate."""

import random

import pytest
from percentile_cases import assert_operators_match_percentile
from pyspark.sql import functions as F

from dataframe_pipeline_spark import Imputer, QuantileBinner


def test_matches_percentile_on_mixed_data(spark):
    rnd = random.Random(7)
    rows = [(rnd.gauss(100.0, 25.0),) for _ in range(5000)]
    rows += [(None,)] * 137 + [(100.0,)] * 500     # nulls + heavy ties
    df = spark.createDataFrame(rows, "x double").repartition(8)
    # with the quartiles: 0.0, 0.01, 0.25, 0.5, 0.75, 0.93 and 1.0
    assert_operators_match_percentile(df, ["x"],
                                      clip_qs=[(0.0, 1.0), (0.01, 0.93)])


def test_two_columns_different_quantiles(spark):
    df = spark.createDataFrame(
        [(float(i), float(i * i)) for i in range(1, 1001)],
        "a double, b double")
    im, _, _, qb = assert_operators_match_percentile(
        df, ["a", "b"], clip_qs=[(0.1, 0.9)], n_bins=10)
    assert im.values[0] != im.values[1]
    assert qb.boundaries_[0] != qb.boundaries_[1]


def test_edges(spark):
    one = spark.createDataFrame([(42.0,)], "x double")
    im, sc, oc, qb = assert_operators_match_percentile(
        one, ["x"], clip_qs=[(0.0, 1.0)])
    assert im.values == [42.0] and qb.boundaries_ == [[42.0] * 3]
    assert (sc.offsets, sc.scales) == ([42.0], [1.0])
    assert oc.bounds_ == [(42.0, 42.0)]

    const = spark.createDataFrame([(1.5,)] * 999, "x double")
    im, sc, oc, qb = assert_operators_match_percentile(
        const, ["x"], clip_qs=[(0.25, 0.75)])
    assert im.values == [1.5] and qb.boundaries_ == [[1.5] * 3]
    assert (sc.offsets, sc.scales) == ([1.5], [1.0])
    assert oc.bounds_ == [(1.5, 1.5)]

    nulls = spark.createDataFrame([(None,), (None,)], "x double")
    im, sc, oc, qb = assert_operators_match_percentile(
        nulls, ["x"], clip_qs=[(0.5, 1.0)])
    assert im.values == [None] and qb.boundaries_ == [[]]
    assert (sc.offsets, sc.scales) == ([None], [1.0])
    assert oc.bounds_ == [(None, None)]
    assert [r.x_bin for r in qb.transform(nulls).collect()] == [None, None]


def test_large_input_ignores_sketch_accuracy(spark):
    """50k rows with ``accuracy=2``: a GK sketch at that accuracy would
    be off by up to n/2 ranks, so equality shows the exact tier never
    reads it."""
    df = spark.range(0, 50_000).selectExpr(
        "cast(id * 7919 % 49999 as double) as x").repartition(8)
    assert_operators_match_percentile(df, ["x"], clip_qs=[(0.01, 0.99)],
                                      accuracy=2)


def test_interpolation_matches_spark_lerp(spark):
    # 7 values, q=0.3 -> pos 1.8: 1.0*(2-1.8) + 2.0*(1.8-1) in Spark's
    # v_l*(h-pos) + v_h*(pos-l) double arithmetic
    df = spark.createDataFrame([(float(i),) for i in range(7)], "x double")
    _, _, _, qb = assert_operators_match_percentile(
        df, ["x"], clip_qs=[(0.3, 0.7)], n_bins=10)
    assert qb.boundaries_[0][2] == pytest.approx(1.8)


def test_median_fill_and_binning_launch_one_aggregate(spark, count_jobs):
    """Imputer's median fill and QuantileBinner's fit each launch the
    jobs of one ``percentile`` aggregate over all their inputs."""
    df = spark.createDataFrame(
        [(float(i), float(i % 7) if i % 5 else None) for i in range(200)],
        "a double, b double")
    qs = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))

    def one_aggregate():
        return df.agg(F.percentile("a", qs), F.percentile("b", qs)).collect()

    im = Imputer(inputs=["a", "b"], outputs=["a", "b"], strategy="median")
    qb = QuantileBinner(inputs=["a", "b"], outputs=["a_bin", "b_bin"])
    for _ in range(2):                  # the first round warms up
        _, agg_jobs = count_jobs(one_aggregate)
        _, im_jobs = count_jobs(im.transform, df)
        _, qb_jobs = count_jobs(qb.fit, df)
    assert agg_jobs >= 1
    assert im_jobs == agg_jobs and qb_jobs == agg_jobs

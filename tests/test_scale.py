"""Ported from /root/reference/dfpipeline/tests/test_scale.py."""
import math

import pandas as pd
import pytest

import dataframe_pipeline_spark as dfp
from tests.conftest import assert_frames_equal


def _df(spark):
    return spark.createDataFrame(pd.DataFrame({"col1": [0, 1, 2], "col2": [1, 2, 3]}))


def test_minmax_scale(spark):
    s = dfp.Scaler(inputs=["col1"], outputs=["col1"], strategy="minmax")
    out = s.fit_transform(_df(spark))
    assert_frames_equal(out, pd.DataFrame({"col1": [0.0, 0.5, 1.0], "col2": [1, 2, 3]}))


def test_standard_scale(spark):
    s = dfp.Scaler(inputs=["col1"], outputs=["col1"], strategy="standard")
    out = s.fit_transform(_df(spark))
    assert_frames_equal(out, pd.DataFrame({
        "col1": [-1.224744871391589, 0.0, 1.224744871391589],  # population std, ddof=0
        "col2": [1, 2, 3],
    }))


def test_min_scale(spark):
    s = dfp.Scaler(inputs=["col2"], outputs=["col2"], strategy="min")
    out = s.fit_transform(_df(spark))
    assert_frames_equal(out, pd.DataFrame({"col1": [0, 1, 2], "col2": [0, 1, 2]}))


def test_standard_scale_mean_is_correctly_rounded(spark):
    """The standard offset is the correctly rounded mean whatever the
    partitioning; Spark's ``avg`` over these 3 partitions can give 0.0."""
    rows = [(0.0,), (0.5,), (2.0 ** -149,), (-0.5,)]
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
                               "x double")
    s = dfp.Scaler(inputs=["x"], outputs=["y"], strategy="standard").fit(df)
    assert s.offsets == [2.0 ** -151]
    assert s.scales == [pytest.approx(1 / math.sqrt(0.125), rel=1e-15)]


def test_standard_scale_mixed_inputs_one_aggregate(spark, count_jobs):
    """An integral and a double input are fitted by the one aggregate a
    double input alone needs, with the population std."""
    df = spark.createDataFrame(
        pd.DataFrame({"i": [1, 2, 4, 9], "x": [0.5, -1.5, 2.0, 3.0]}))
    both, jobs = count_jobs(dfp.Scaler(inputs=["i", "x"], outputs=["a", "b"],
                                       strategy="standard").fit, df)
    _, alone = count_jobs(dfp.Scaler(inputs=["x"], outputs=["b"],
                                     strategy="standard").fit, df)
    assert jobs == alone
    assert both.offsets == [4.0, 1.0]
    for got, col in zip(both.scales, ["i", "x"]):
        assert got == pytest.approx(1 / df.toPandas()[col].std(ddof=0),
                                    rel=1e-15)

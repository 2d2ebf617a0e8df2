"""Ported from /root/reference/dfpipeline/tests/test_wrap.py.

sklearn is not installed in this environment; WrapTransformer recognizes
wrapped transformers by class name, so lightweight stand-ins with the same
class names exercise the identical code path real sklearn objects would.
"""
import numpy as np
import pandas as pd

import dataframe_pipeline_spark as dfp
from tests.conftest import assert_frames_equal


class LabelEncoder:  # stand-in for sklearn.preprocessing.LabelEncoder
    pass


class StandardScaler:  # stand-in for sklearn.preprocessing.StandardScaler
    pass


class MinMaxScaler:  # stand-in for sklearn.preprocessing.MinMaxScaler
    pass


class SimpleImputer:  # stand-in for sklearn.impute.SimpleImputer
    def __init__(self, strategy="mean"):
        self.strategy = strategy


def _df(spark):
    return spark.createDataFrame(pd.DataFrame({
        "col1": ["A", "B", "C", "C"],
        "col2": [1, 1, 2, 2],
        "col3": [2.0, 2.0, 2.0, np.nan],
        "col4": [4.0, 4.0, np.nan, 4.0],
    }))


def test_wrap_label_encoder(spark):
    w = dfp.WrapTransformer(inputs=["col1"], outputs=["col1"], transformer=LabelEncoder())
    out = w.fit_transform(_df(spark)).select("col1")
    assert_frames_equal(out, pd.DataFrame({"col1": [0, 1, 2, 2]}))


def test_wrap_standard_scaler(spark):
    w = dfp.WrapTransformer(inputs=[("col2",)], outputs=[("col2",)], transformer=StandardScaler())
    out = w.fit_transform(_df(spark)).select("col2")
    assert_frames_equal(out, pd.DataFrame({"col2": [-1.0, -1.0, 1.0, 1.0]}))


def test_wrap_minmax_scaler_multicol(spark):
    w = dfp.WrapTransformer(
        inputs=[("col2", "col3")], outputs=[("col2", "col3")], transformer=MinMaxScaler()
    )
    out = w.fit_transform(_df(spark)).select("col2", "col3")
    # col3 is constant (range 0 → divisor 1, sklearn _handle_zeros_in_scale)
    assert_frames_equal(out, pd.DataFrame({
        "col2": [0.0, 0.0, 1.0, 1.0],
        "col3": [0.0, 0.0, 0.0, None],
    }))


def test_wrap_simple_imputer_mean(spark):
    w = dfp.WrapTransformer(
        inputs=[("col3", "col4")], outputs=[("col3", "col4")],
        transformer=SimpleImputer(strategy="mean"),
    )
    out = w.fit_transform(_df(spark)).select("col3", "col4")
    assert_frames_equal(out, pd.DataFrame({
        "col3": [2.0, 2.0, 2.0, 2.0],
        "col4": [4.0, 4.0, 4.0, 4.0],
    }))


def test_wrap_generic_transformer(spark):
    """Arbitrary fit/transform object: fitted on driver, applied via
    Arrow-batched pandas UDF (reference WrapTransform.py:65-86 shape)."""
    import pandas as pd

    from dataframe_pipeline_spark import WrapTransformer

    class DemeanTransformer:  # sklearn-shaped, no sklearn needed
        def fit(self, X):
            self.mean_ = float(X.mean())
            return self

        def transform(self, X):
            return X - self.mean_

    df = spark.createDataFrame(
        pd.DataFrame({"x": [1.0, 2.0, 3.0, 6.0]}))
    w = WrapTransformer(inputs=["x"], outputs=["x_dm"],
                        transformer=DemeanTransformer())
    out = {round(r.x, 1): r.x_dm for r in w.fit_transform(df).collect()}
    assert out == {1.0: -2.0, 2.0: -1.0, 3.0: 0.0, 6.0: 3.0}


def test_wrap_generic_fit_row_cap(spark):
    """The generic driver-side fit refuses inputs above
    GENERIC_FIT_MAX_ROWS with a pointer at the native operators,
    instead of attempting an unbounded toPandas()."""
    import pytest

    from dataframe_pipeline_spark import WrapTransformer

    class Identity:
        def fit(self, X):
            return self

        def transform(self, X):
            return X

    df = spark.range(100).selectExpr("CAST(id AS DOUBLE) AS x")
    w = WrapTransformer(inputs=["x"], outputs=["y"], transformer=Identity())
    w.GENERIC_FIT_MAX_ROWS = 50  # instance override, class default 10M
    with pytest.raises(ValueError, match="GENERIC_FIT_MAX_ROWS"):
        w.fit(df)
    # under the cap the same wrap fits fine
    w2 = WrapTransformer(inputs=["x"], outputs=["y"], transformer=Identity())
    w2.GENERIC_FIT_MAX_ROWS = 200
    assert w2.fit_transform(df).count() == 100


def test_wrap_simple_imputer_mean_is_correctly_rounded(spark):
    """The fitted mean is Imputer's correctly rounded mean.  Spark's
    ``avg`` sums each partition in order, and the middle partition's
    0.5 + 2**-149 rounds to 0.5: it returns 0.0 for a mean of 2**-151."""
    xs = [0.0, 0.5, 2.0 ** -149, -0.5, float("nan")]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize([(x,) for x in xs], 3), "x double")
    w = dfp.WrapTransformer(inputs=["x"], outputs=["y"],
                            transformer=SimpleImputer(strategy="mean"))
    got = [r.y for r in w.fit_transform(df).collect() if np.isnan(r.x)]
    assert got == [2.0 ** -151]

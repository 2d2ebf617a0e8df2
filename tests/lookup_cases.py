"""The seven lookup operators (each joins a fitted table at transform),
configured over the small frame ``lookup_frame`` builds; shared by the
fitted-table and plan tests."""

import pandas as pd

import dataframe_pipeline_spark as dfp


class _LabelEncoder:  # recognized by WrapTransformer by class name
    pass


_LabelEncoder.__name__ = "LabelEncoder"

LOOKUP_OPERATORS = {
    "ComplementLabelEncoder": lambda: dfp.ComplementLabelEncoder(
        inputs=["cat", "grp"], outputs=["cat_id", "grp_id"]),
    "FrequencyEncoder": lambda: dfp.FrequencyEncoder(
        inputs=["cat"], outputs=["cat_freq"]),
    "Aggregator": lambda: dfp.Aggregator(
        inputs=["x"], outputs=["x_mean"], groupby=["grp"], func="mean"),
    "TargetEncoder": lambda: dfp.TargetEncoder(
        inputs=["cat", "grp"], outputs=["cat_te", "grp_te"], target="y"),
    "WOEEncoder": lambda: dfp.WOEEncoder(
        inputs=["cat"], outputs=["cat_woe"], target="y"),
    "WrapTransformer": lambda: dfp.WrapTransformer(
        inputs=["cat"], outputs=["cat_le"], transformer=_LabelEncoder()),
    "CVTargetEncoder": lambda: dfp.CVTargetEncoder(
        inputs=["cat"], outputs=["cat_cv"], target="y", fold_key="id",
        cv_folds=2),
}


def lookup_frame(spark, seed: int):
    n = 24
    return spark.createDataFrame(pd.DataFrame({
        "id": range(n),
        "cat": [f"c{(i * seed) % 5}" for i in range(n)],
        "grp": [(i + seed) % 4 for i in range(n)],
        "x": [float(i * seed) for i in range(n)],
        "y": [(i + seed) % 2 for i in range(n)],
    }))

"""Fitted lookup tables (base.FittedTable): held on the driver at fit
time up to SERVING_MAX_ROWS rows, checkpointed above; nothing persisted
leaks across refits, and fits launch a bounded number of Spark jobs."""

import pandas as pd
import pytest

import dataframe_pipeline_spark as dfp
from dataframe_pipeline_spark import base


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


def _frame(spark, seed: int):
    n = 24
    return spark.createDataFrame(pd.DataFrame({
        "id": range(n),
        "cat": [f"c{(i * seed) % 5}" for i in range(n)],
        "grp": [(i + seed) % 4 for i in range(n)],
        "x": [float(i * seed) for i in range(n)],
        "y": [(i + seed) % 2 for i in range(n)],
    }))


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.mark.parametrize("name", sorted(LOOKUP_OPERATORS))
def test_refits_persist_nothing(spark, name):
    """Three fits on three frames leave no persisted or checkpointed
    RDD behind: small fitted tables are held on the driver."""
    frames = [_frame(spark, s) for s in (1, 2, 3)]
    op = LOOKUP_OPERATORS[name]()
    start = _persisted(spark)
    for df in frames:
        op.fit(df)
    assert _persisted(spark) == start
    assert all(t.held for t in base.fitted_tables(op))


@pytest.mark.parametrize("name", sorted(LOOKUP_OPERATORS))
def test_large_tables_checkpointed_and_released_on_refit(
        spark, monkeypatch, name):
    """Over SERVING_MAX_ROWS a fitted table is a checkpoint on the
    executors; refitting releases the previous one, and transform
    answers as the held table does."""
    frames = [_frame(spark, s) for s in (1, 2, 3)]
    held = LOOKUP_OPERATORS[name]().fit(frames[-1])
    want = sorted(held.transform(frames[-1]).collect())
    monkeypatch.setattr(base, "SERVING_MAX_ROWS", 1)
    op = LOOKUP_OPERATORS[name]()
    start = _persisted(spark)
    op.fit(frames[0])
    after_one = _persisted(spark)
    assert after_one > start
    for df in frames[1:]:
        op.fit(df)
    assert _persisted(spark) == after_one
    tables = base.fitted_tables(op)
    assert tables and not any(t.held for t in tables)
    assert sorted(op.transform(frames[-1]).collect()) == want


def test_label_encoder_fit_launches_at_most_two_jobs(spark, count_jobs):
    df = _frame(spark, 7)
    for inputs in (["cat"], ["cat", "grp", "x"]):
        enc = dfp.ComplementLabelEncoder(inputs=inputs)
        _, jobs = count_jobs(enc.fit, df)
        assert jobs <= 2, (inputs, jobs)


def test_target_encoder_fit_jobs_independent_of_inputs(spark, count_jobs):
    df = _frame(spark, 5)
    one = dfp.TargetEncoder(inputs=["cat"], outputs=["a"], target="y")
    three = dfp.TargetEncoder(inputs=["cat", "grp", "x"],
                              outputs=["a", "b", "c"], target="y")
    _, jobs_one = count_jobs(one.fit, df)
    _, jobs_three = count_jobs(three.fit, df)
    assert jobs_one == jobs_three
    # and the stacked fit gives each input its own fitted codes
    solo = dfp.TargetEncoder(inputs=["grp"], outputs=["b"], target="y")
    solo.fit(df)
    assert three.lookups_[1].arrow.sort_by("__cat").to_pylist() == \
        solo.lookups_[0].arrow.sort_by("__cat").to_pylist()

"""Fitted lookup tables (base.FittedTable): held on the driver at fit
time up to SERVING_MAX_ROWS rows, checkpointed above; nothing persisted
leaks across refits, and fits launch a bounded number of Spark jobs."""

import pytest

import dataframe_pipeline_spark as dfp
from dataframe_pipeline_spark import base
from lookup_cases import LOOKUP_OPERATORS, lookup_frame


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _table_ids(op) -> set:
    return {i for t in base.fitted_tables(op) for i in t.ids}


@pytest.mark.parametrize("name", sorted(LOOKUP_OPERATORS))
def test_refits_persist_nothing(spark, name):
    """Three fits on three frames leave no persisted or checkpointed
    RDD behind: small fitted tables are held on the driver.  (Other
    tests' RDDs may be cleaned up meanwhile, so only the ids ADDED in
    the window are compared.)"""
    frames = [lookup_frame(spark, s) for s in (1, 2, 3)]
    op = LOOKUP_OPERATORS[name]()
    start = _persisted(spark)
    for df in frames:
        op.fit(df)
    assert _persisted(spark) - start == set()
    assert all(t.held for t in base.fitted_tables(op))


@pytest.mark.parametrize("name", sorted(LOOKUP_OPERATORS))
def test_large_tables_checkpointed_and_released_on_refit(
        spark, monkeypatch, name):
    """Over SERVING_MAX_ROWS a fitted table is a checkpoint on the
    executors; refitting releases the previous one, and transform
    answers as the held table does.  The RDDs added in the window are
    exactly the operator's own tables: no intermediate checkpoint and
    no superseded table stays persisted."""
    frames = [lookup_frame(spark, s) for s in (1, 2, 3)]
    held = LOOKUP_OPERATORS[name]().fit(frames[-1])
    want = sorted(held.transform(frames[-1]).collect())
    monkeypatch.setattr(base, "SERVING_MAX_ROWS", 1)
    op = LOOKUP_OPERATORS[name]()
    start = _persisted(spark)
    try:
        op.fit(frames[0])
        first = _table_ids(op)
        assert first and _persisted(spark) - start == first
        for df in frames[1:]:
            op.fit(df)
        assert _persisted(spark) - start == _table_ids(op)
        assert not first & _table_ids(op)
        tables = base.fitted_tables(op)
        assert tables and not any(t.held for t in tables)
        assert sorted(op.transform(frames[-1]).collect()) == want
    finally:
        for table in base.fitted_tables(op):
            table.release()


def test_label_encoder_fit_launches_at_most_two_jobs(spark, count_jobs):
    df = lookup_frame(spark, 7)
    for inputs in (["cat"], ["cat", "grp", "x"]):
        enc = dfp.ComplementLabelEncoder(inputs=inputs)
        _, jobs = count_jobs(enc.fit, df)
        assert jobs <= 2, (inputs, jobs)


def test_target_encoder_fit_jobs_independent_of_inputs(spark, count_jobs):
    df = lookup_frame(spark, 5)
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

"""The seven lookup operators (each looks a fitted table up at
transform), configured over the small frame ``lookup_frame`` builds,
and the plan pin of the rule by which they apply their tables; shared
by the fitted-table, plan and lookup-rule tests."""

import pandas as pd
import pytest

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


#: lookup operators whose tables are always joined: CVTargetEncoder
#: looks its table up on a (category, fold) key pair
JOINED = {"CVTargetEncoder"}


def optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def assert_lookup_rule(spark, build, inlined: bool = True):
    """Pin how the fitted lookups of ``build()`` (it fits, and returns
    the transformed frame; every fitted table has at most 10 rows) are
    applied.  The caller turns planner auto-broadcast off
    (``no_auto_broadcast``), so a BroadcastHashJoin can only come from
    the operator's hint.

    * As built, a held table is a literal map: the plan has no join at
      all (unless not ``inlined``: then it is as with the bound at 0).
    * With ``INLINE_MAX_ROWS`` 0, the held table is joined with a
      broadcast hint: BroadcastHashJoin, no SortMergeJoin.
    * Fitted with ``SERVING_MAX_ROWS`` 1, the checkpointed table is
      joined with no hint (its checkpoints are released after)."""
    from dataframe_pipeline_spark import base

    if inlined:
        plan = optimized(build())
        assert "Join" not in plan, plan
    with pytest.MonkeyPatch.context() as m:
        m.setattr(base, "INLINE_MAX_ROWS", 0)
        plan = executed(build())
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    try:
        with pytest.MonkeyPatch.context() as m:
            m.setattr(base, "SERVING_MAX_ROWS", 1)
            out = build()
        assert "Join" in optimized(out)
        assert "broadcast" not in optimized(out)
        assert "BroadcastHashJoin" not in executed(out)
    finally:
        base.release_checkpoint(spark, [
            i for i in jsc.getPersistentRDDs().keySet() if i not in before])

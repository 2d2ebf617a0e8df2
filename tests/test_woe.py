"""WOEEncoder: hand-computed weight-of-evidence values, smoothing,
unseen/NULL handling, broadcast lookup plan."""

import math

import pytest

from dataframe_pipeline_spark.operators import WOEEncoder


@pytest.fixture()
def labeled(spark):
    # category a: 3 pos / 1 neg; b: 1 pos / 3 neg; c: 0 pos / 2 neg
    rows = ([("a", 1)] * 3 + [("a", 0)]
            + [("b", 1)] + [("b", 0)] * 3
            + [("c", 0)] * 2)
    return spark.createDataFrame(rows, "cat string, y int")


def _woe(pos_c, n_c, pos_t, neg_t, a=0.5):
    return math.log(((pos_c + a) / (pos_t + 2 * a))
                    / ((n_c - pos_c + a) / (neg_t + 2 * a)))


def test_woe_hand_computed(labeled):
    enc = WOEEncoder(inputs=["cat"], outputs=["w"], target="y")
    out = {r.cat: r.w for r in
           enc.fit_transform(labeled).select("cat", "w").distinct().collect()}
    pos_t, neg_t = 4.0, 6.0
    assert out["a"] == pytest.approx(_woe(3, 4, pos_t, neg_t))
    assert out["b"] == pytest.approx(_woe(1, 4, pos_t, neg_t))
    assert out["c"] == pytest.approx(_woe(0, 2, pos_t, neg_t))
    assert out["a"] > 0 > out["b"]          # over/under-indexing signs


def test_woe_unseen_and_null_default_zero(spark, labeled):
    enc = WOEEncoder(inputs=["cat"], outputs=["w"], target="y").fit(labeled)
    fresh = spark.createDataFrame([("zz", 0), (None, 1)], "cat string, y int")
    vals = [r.w for r in enc.transform(fresh).collect()]
    assert vals == [0.0, 0.0]               # no evidence -> 0


def test_woe_smoothing_shrinks_rare(spark):
    # a single all-positive row: higher alpha pulls WOE toward 0
    df = spark.createDataFrame(
        [("r", 1)] + [("x", 1)] * 5 + [("x", 0)] * 5, "cat string, y int")
    lo = WOEEncoder(inputs=["cat"], outputs=["w"], target="y",
                    alpha=0.1).fit_transform(df)
    hi = WOEEncoder(inputs=["cat"], outputs=["w"], target="y",
                    alpha=5.0).fit_transform(df)
    w_lo = lo.filter("cat = 'r'").head().w
    w_hi = hi.filter("cat = 'r'").head().w
    assert w_lo > w_hi > 0


def test_woe_validation():
    with pytest.raises(ValueError, match="target"):
        WOEEncoder(inputs=["c"], outputs=["w"])
    with pytest.raises(ValueError, match="alpha"):
        WOEEncoder(inputs=["c"], outputs=["w"], target="y", alpha=-1)


def test_woe_broadcast_lookup_plan(spark, no_auto_broadcast, labeled):
    """The 3-row WOE table: a literal map, a broadcast join with
    ``INLINE_MAX_ROWS`` 0, no hint when checkpointed."""
    from lookup_cases import assert_lookup_rule

    assert_lookup_rule(spark, lambda: WOEEncoder(
        inputs=["cat"], outputs=["w"], target="y").fit(labeled)
        .transform(labeled))

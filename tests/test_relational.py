"""relational.py: salted join, blocklist filter, top-k per group,
profiling — value parity with the unsalted/naive equivalents plus the
plan properties that carry the 100 TB claims."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dataframe_pipeline_spark.profiling import profile
from dataframe_pipeline_spark.relational import (
    filter_blocklist, salted_join, topk_per_group)


@pytest.fixture()
def skewed(spark):
    """Fact table with one hot key owning half the rows + a dim side."""
    fact = spark.createDataFrame(
        [(i, 7 if i % 2 == 0 else i % 50, float(i)) for i in range(400)],
        "row_id long, k long, v double")
    dim = spark.createDataFrame(
        [(k, f"dim_{k}") for k in range(60)], "k long, name string")
    return fact, dim


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_salted_inner_equals_plain(spark, skewed):
    fact, dim = skewed
    plain = fact.join(dim, "k", "inner").select("row_id", "k", "v", "name")
    salted = salted_join(fact, dim, "k", "inner", n_salts=8,
                         salt_src="row_id").select("row_id", "k", "v", "name")
    assert _rows(salted) == _rows(plain)


def test_salted_left_keeps_unmatched_fact(spark, skewed):
    fact, dim = skewed
    small_dim = dim.filter(F.col("k") < 10)
    plain = fact.join(small_dim, "k", "left").select("row_id", "k", "name")
    salted = salted_join(fact, small_dim, "k", "left", n_salts=4,
                         salt_src="row_id").select("row_id", "k", "name")
    assert _rows(salted) == _rows(plain)


def test_salted_semi_anti(spark, skewed):
    fact, dim = skewed
    some = dim.filter(F.col("k") % 3 == 0)
    for how in ("left_semi", "left_anti"):
        plain = fact.join(some, fact.k == some.k, how)
        salted = salted_join(fact, some, "k", how, n_salts=4,
                             salt_src="row_id")
        assert salted.columns == fact.columns
        assert _rows(salted.select("row_id")) == _rows(plain.select("row_id"))


def test_salted_default_salt_src_and_null_keys(spark):
    fact = spark.createDataFrame(
        [(1, None, "a"), (2, 5, "b"), (3, 5, "c")],
        "row_id long, k long, tag string")
    dim = spark.createDataFrame([(5, "five")], "k long, name string")
    plain = fact.join(dim, "k", "left").select("row_id", "name")
    salted = salted_join(fact, dim, "k", "left").select("row_id", "name")
    assert _rows(salted) == _rows(plain)          # NULL key row survives


def test_salted_rejects_right_join(spark, skewed):
    fact, dim = skewed
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(fact, dim, "k", "right")
    with pytest.raises(ValueError, match="n_salts"):
        salted_join(fact, dim, "k", n_salts=0)


def test_salted_join_plan_has_salt_key(spark, skewed):
    """The shuffle/join key must include __salt — that IS the skew fix."""
    fact, dim = skewed
    out = salted_join(fact, dim, "k", "inner", n_salts=8, salt_src="row_id")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "__salt" in plan
    # and the salt never leaks into the result schema
    assert "__salt" not in out.columns


def test_maybe_salted_join_gates_on_measured_skew(spark, skewed):
    """VERDICT r10 #2: the gated entry point must take the PLAIN join
    on unskewed keys (no __salt anywhere in the plan — a user never
    pays the measured 4.5-8.7x replication overhead by default) and
    flip to the salted plan when the hottest key's share crosses the
    V/W rule.  Values identical on both paths."""
    from dataframe_pipeline_spark.relational import maybe_salted_join

    fact, dim = skewed                     # hot key 7 owns ~50% of rows
    plain = fact.join(dim, "k", "inner")

    # pin the production crossover (4.5/32 ≈ 0.14) explicitly: the
    # default derives from defaultParallelism, which is 4 in the test
    # session — there 4.5/W > 1 and the gate NEVER salts (correct: at
    # tiny parallelism the replication overhead always exceeds the
    # hot-reducer gain), which would make both assertions vacuous
    thr = 4.5 / 32

    # skewed input (hot_share ~0.5 > 0.14): gate flips to salting
    hot = maybe_salted_join(fact, dim, "k", n_salts=8, salt_src="row_id",
                            hot_share_threshold=thr)
    assert "__salt" in hot._jdf.queryExecution().optimizedPlan().toString()
    assert _rows(hot.select("row_id", "name")) == \
        _rows(plain.select("row_id", "name"))

    # unskewed input (hottest key ~0.02 < 0.14): plain join, no salt
    flat = spark.createDataFrame(
        [(i, i % 50, float(i)) for i in range(400)],
        "row_id long, k long, v double")
    ungated = maybe_salted_join(flat, dim, "k", n_salts=8,
                                salt_src="row_id",
                                hot_share_threshold=thr)
    p = ungated._jdf.queryExecution().optimizedPlan().toString()
    assert "__salt" not in p
    assert _rows(ungated.select("row_id", "name")) == \
        _rows(flat.join(dim, "k", "inner").select("row_id", "name"))

    # the default threshold at this session's W=4 refuses to salt even
    # the hot key — the documented never-salt-at-tiny-W behavior
    dflt = maybe_salted_join(fact, dim, "k", n_salts=8, salt_src="row_id")
    assert "__salt" not in \
        dflt._jdf.queryExecution().optimizedPlan().toString()

    # explicit threshold override is honored
    forced = maybe_salted_join(flat, dim, "k", n_salts=4,
                               salt_src="row_id", hot_share_threshold=0.0)
    assert "__salt" in forced._jdf.queryExecution().optimizedPlan().toString()


def test_maybe_salted_probe_fraction_gate(spark, monkeypatch):
    """VERDICT r11 #2: past the scan-size bound the gate probe samples
    at the seeded default fraction instead of aggregating every key;
    under the bound (and for in-memory frames) it stays exact; an
    explicit caller value always wins (1.0 forces the exact probe)."""
    from dataframe_pipeline_spark import relational as rel

    fact = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    # sf0.001 lineitem is far under the 32 MB bound: exact probe
    assert rel._probe_fraction(fact, None) is None
    # explicit values pass through untouched
    assert rel._probe_fraction(fact, 1.0) == 1.0
    assert rel._probe_fraction(fact, 0.01) == 0.01
    # shrink the bound below the scan estimate: sampled default kicks in
    monkeypatch.setattr(rel, "PROBE_SAMPLE_BYTES", 1)
    assert rel._probe_fraction(fact, None) == rel.PROBE_SAMPLE_FRACTION

    # and the gate DECISION is unchanged when the probe samples: the
    # parquet fact joined on l_orderkey (unskewed, <=7 rows/key) takes
    # the plain join on both the exact and the forced-sampled probe
    dim = (fact.groupBy("l_orderkey").count()
           .select("l_orderkey", F.col("count").alias("n_lines")))
    thr = 4.5 / 32
    for frac in (None, 0.05):
        out = rel.maybe_salted_join(fact, dim, "l_orderkey",
                                    hot_share_threshold=thr,
                                    sample_fraction=frac)
        assert "__salt" not in \
            out._jdf.queryExecution().optimizedPlan().toString()


def test_maybe_salted_probe_cache(spark):
    """The gate's measured hot share is cached by data identity for
    plain-scan facts (probe once per table): a second call with the
    same fact/keys reads the cache (proven by planting a fake skewed
    share and observing the gate flip), derived facts are never
    cached, and the key carries file stat identity."""
    from dataframe_pipeline_spark import relational as rel

    rel._HOT_SHARE_CACHE.clear()
    fact = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    dim = (fact.groupBy("l_orderkey").count()
           .select("l_orderkey", F.col("count").alias("n_lines")))
    thr = 4.5 / 32
    out = rel.maybe_salted_join(fact, dim, "l_orderkey",
                                salt_src="l_linenumber",
                                hot_share_threshold=thr)
    assert "__salt" not in \
        out._jdf.queryExecution().optimizedPlan().toString()
    assert len(rel._HOT_SHARE_CACHE) == 1
    key = next(iter(rel._HOT_SHARE_CACHE))
    # plant a fake 100%-hot share under the cached key: if the second
    # call really reads the cache, the gate must now salt
    rel._HOT_SHARE_CACHE[key] = (1000, 1000)
    out2 = rel.maybe_salted_join(fact, dim, "l_orderkey",
                                 salt_src="l_linenumber",
                                 hot_share_threshold=thr)
    assert "__salt" in \
        out2._jdf.queryExecution().optimizedPlan().toString()
    rel._HOT_SHARE_CACHE.clear()

    # a FILTERED fact (derived distribution) must never be cached
    filtered = fact.filter(F.col("l_linenumber") == 1)
    rel.maybe_salted_join(filtered, dim, "l_orderkey",
                          salt_src="l_linenumber",
                          hot_share_threshold=thr)
    assert rel._HOT_SHARE_CACHE == {}

    # values still correct on the cached path
    rel._HOT_SHARE_CACHE.clear()
    a = _rows(out.select("l_orderkey", "n_lines"))
    b = _rows(fact.join(dim, "l_orderkey").select("l_orderkey", "n_lines"))
    assert a == b


def test_maybe_salted_column_order_stable(spark, skewed):
    """ADVICE r11: output column order must not depend on the measured
    skew — both gate outcomes return (keys, fact non-key, dim
    non-key)."""
    from dataframe_pipeline_spark.relational import maybe_salted_join

    fact, dim = skewed
    want = ["k", "row_id", "v", "name"]
    salted = maybe_salted_join(fact, dim, "k", n_salts=4,
                               salt_src="row_id", hot_share_threshold=0.0)
    plain = maybe_salted_join(fact, dim, "k", hot_share_threshold=1.1)
    assert salted.columns == want
    assert plain.columns == want
    # semi/anti return the fact schema untouched on either path
    for thr in (0.0, 1.1):
        semi = maybe_salted_join(fact, dim, "k", how="left_semi",
                                 salt_src="row_id", hot_share_threshold=thr)
        assert semi.columns == fact.columns


def test_maybe_salted_probe_ignores_nulls_for_inner(spark):
    """ADVICE r11: an inner join prunes NULL keys, so a null-heavy fact
    must not trigger salting — but a LEFT join keeps them as fact rows
    (they shuffle), so there they still count."""
    from dataframe_pipeline_spark.relational import maybe_salted_join

    rows = [(i, None, float(i)) for i in range(200)] + \
        [(200 + i, i % 50, float(i)) for i in range(200)]
    fact = spark.createDataFrame(rows, "row_id long, k long, v double")
    dim = spark.createDataFrame(
        [(k, f"dim_{k}") for k in range(60)], "k long, name string")
    thr = 4.5 / 32
    inner = maybe_salted_join(fact, dim, "k", how="inner",
                              salt_src="row_id", hot_share_threshold=thr)
    assert "__salt" not in \
        inner._jdf.queryExecution().optimizedPlan().toString()
    left = maybe_salted_join(fact, dim, "k", how="left",
                             salt_src="row_id", hot_share_threshold=thr)
    assert "__salt" in \
        left._jdf.queryExecution().optimizedPlan().toString()
    # and values match the plain join on both paths
    assert _rows(inner.select("row_id", "name")) == \
        _rows(fact.join(dim, "k", "inner").select("row_id", "name"))
    assert _rows(left.select("row_id", "name")) == \
        _rows(fact.join(dim, "k", "left").select("row_id", "name"))


def test_filter_blocklist_semantics(spark):
    ev = spark.createDataFrame(
        [(1, 10, "x"), (2, 20, "y"), (3, None, "z"), (4, 30, "w")],
        "id long, user long, tag string")
    blocked = spark.createDataFrame([(20,), (None,)], "user long")
    kept = filter_blocklist(ev, blocked, "user")
    # 20 dropped; NULL key kept (anti-join / NOT EXISTS semantics);
    # NULL in the blocklist matches nothing.
    assert _rows(kept.select("id")) == [(1,), (3,), (4,)]
    assert kept.columns == ev.columns


def test_filter_blocklist_broadcasts_small_list(spark):
    """Parquet-backed blocklist (real Catalyst size statistics) small
    enough for the planner to broadcast → broadcast anti-join, zero
    shuffle of the corpus side, with no hint from filter_blocklist.
    In-memory frames without stats plan a shuffle join (see
    test_filter_blocklist_semantics)."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    blocked = spark.read.parquet(
        "/root/testdata/sf0.001/customer.parquet").select("c_custkey")
    kept = filter_blocklist(ev, blocked, "user_id", blocked_col="c_custkey")
    phys = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in phys and "LeftAnti" in phys


def test_topk_per_group_values(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 30.0), ("a", 3, 30.0), ("a", 4, 5.0),
         ("b", 5, 1.0), ("b", 6, 2.0)],
        "g string, id long, score double")
    top = topk_per_group(df, "g", "score", k=2, tiebreak="id")
    got = sorted((r.g, r.rk, r.id) for r in top.collect())
    # tie at 30.0 broken by id asc: id=2 first, id=3 second
    assert got == [("a", 1, 2), ("a", 2, 3), ("b", 1, 6), ("b", 2, 5)]


def test_topk_requires_tiebreak(spark):
    df = spark.createDataFrame([("a", 1.0)], "g string, v double")
    with pytest.raises(ValueError, match="tiebreak"):
        topk_per_group(df, "g", "v", k=1)


def test_topk_plan_uses_group_limit(spark):
    """rk<=k must reach Spark's rank-limit window path: bounded k-row
    heaps per group (WindowGroupLimit), not a full per-group sort kept
    in memory."""
    df = spark.range(10000).select(
        (F.col("id") % 7).alias("g"), F.col("id"),
        F.rand(42).alias("score"))
    top = topk_per_group(df, "g", "score", k=3, tiebreak="id")
    phys = top._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in phys


def test_profile_exact_matches_pandas(spark):
    df = spark.createDataFrame(
        [(1.0, "b"), (2.0, None), (2.0, "a"), (None, "a"), (4.0, "c")],
        "x double, s string")
    out = profile(df, exact=True).toPandas().set_index("col_name")
    x = out.loc["x"]
    assert (x.n_rows, x.n_nonnull, x.n_distinct) == (5, 4, 3)
    assert (x.min_num, x.max_num) == (1.0, 4.0)
    assert abs(x.mean_num - (1 + 2 + 2 + 4) / 4) < 1e-12
    assert pd.isna(x.min_str) and pd.isna(x.max_str)
    s = out.loc["s"]
    assert (s.n_rows, s.n_nonnull, s.n_distinct) == (5, 4, 3)
    assert (s.min_str, s.max_str) == ("a", "c")
    assert pd.isna(s.min_num) and pd.isna(s.mean_num)


def test_profile_single_job_approx(spark):
    """Default (approx) profile of N columns plans ONE aggregate —
    no per-column jobs, no EXPAND blowup."""
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 10).alias("m"),
        F.concat(F.lit("u"), F.col("id") % 5).alias("s"))
    out = profile(df)
    phys = out._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in phys
    got = {r.col_name: r for r in out.collect()}
    assert got["id"].n_rows == 1000
    # HLL++ within 5% on 1000 distincts
    assert abs(got["id"].n_distinct - 1000) <= 50
    assert got["m"].n_distinct == 10 and got["s"].n_distinct == 5


def test_profile_unknown_column_raises(spark):
    df = spark.range(3)
    with pytest.raises(ValueError, match="unknown columns"):
        profile(df, ["nope"])


def test_histogram_values_and_empty_bins(spark):
    from dataframe_pipeline_spark.profiling import histogram
    df = spark.createDataFrame(
        [(float(v),) for v in [0, 1, 2, 9, 10]] + [(None,)], "x double")
    out = histogram(df, "x", n_bins=5)   # fitted [0,10], w=2
    got = {r.bin: (r.bin_lo, r.bin_hi, r.n) for r in out.collect()}
    assert len(got) == 5                                   # empty bins emitted
    assert got[0] == (0.0, 2.0, 2)                         # 0,1 → bin0
    assert got[1][2] == 1                                  # 2 → bin1
    assert got[4][2] == 2                                  # 9,10: hi lands last
    assert sum(v[2] for v in got.values()) == 5            # NULL excluded
    with pytest.raises(ValueError, match="n_bins"):
        histogram(df, "x", 0)
    with pytest.raises(ValueError, match="hi > lo"):
        histogram(spark.createDataFrame([(1.0,)], "x double"), "x", 3)


def test_histogram_explicit_bounds_clip(spark):
    from dataframe_pipeline_spark.profiling import histogram
    df = spark.createDataFrame([(float(v),) for v in range(100)], "x double")
    out = histogram(df, "x", n_bins=4, lo=10.0, hi=50.0)
    got = {r.bin: r.n for r in out.collect()}
    assert sum(got.values()) == 41        # 10..50 inclusive; outside excluded


def test_correlation_matrix(spark):
    import math
    from dataframe_pipeline_spark.profiling import correlation_matrix
    df = spark.createDataFrame(
        [(float(i), 2.0 * i, float(-i), float(i % 3)) for i in range(50)],
        "a double, b double, c double, d double")
    out = correlation_matrix(df, ["a", "b", "c"])
    got = {(r.col_a, r.col_b): r.corr for r in out.collect()}
    assert len(got) == 6
    assert math.isclose(got[("a", "a")], 1.0)
    assert math.isclose(got[("a", "b")], 1.0)      # perfectly linear
    assert math.isclose(got[("a", "c")], -1.0)
    # one scan, one aggregate
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.lower().count("aggregate") == 1
    with pytest.raises(ValueError, match="two columns"):
        correlation_matrix(df, ["a"])


def test_key_skew_diagnosis(spark):
    from dataframe_pipeline_spark.profiling import key_skew
    rows = [(7,)] * 50 + [(None,)] * 30 + [(i,) for i in range(20)]
    df = spark.createDataFrame(rows, "k long")
    out = key_skew(df, "k", top=3).collect()
    assert (out[0].key, out[0].n) == (7, 51)           # hot key first
    assert out[1].key is None and out[1].n == 30       # NULL reported
    assert abs(out[0].share - 0.51) < 1e-9
    plan = key_skew(df, "k", 3)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan             # heap, no global sort


def test_range_join_inner_and_left(spark):
    from dataframe_pipeline_spark.relational import range_join
    pts = spark.createDataFrame(
        [(1, 5.0), (2, 15.0), (3, 25.0), (4, 999.0)],
        "pid long, x double")
    iv = spark.createDataFrame(
        [(10, 0.0, 9.0), (20, 10.0, 19.0), (21, 12.0, 30.0)],
        "iid long, lo double, hi double")
    inner = range_join(pts, iv, "x", "lo", "hi", bin_width=10.0)
    got = sorted((r.pid, r.iid) for r in inner.collect())
    # x=15 falls in two overlapping intervals; x=999 matches none
    assert got == [(1, 10), (2, 20), (2, 21), (3, 21)]
    left = range_join(pts, iv, "x", "lo", "hi", 10.0, how="left")
    lgot = sorted((r.pid, r.iid) for r in left.collect())
    assert lgot == [(1, 10), (2, 20), (2, 21), (3, 21), (4, None)]


def test_range_join_boundary_inclusive_and_validation(spark):
    from dataframe_pipeline_spark.relational import range_join
    pts = spark.createDataFrame([(1, 10.0), (2, 19.0)], "pid long, x double")
    iv = spark.createDataFrame([(7, 10.0, 19.0)], "iid long, lo double, hi double")
    got = range_join(pts, iv, "x", "lo", "hi", 5.0).count()
    assert got == 2                                  # both ends inclusive
    with pytest.raises(ValueError, match="bin_width"):
        range_join(pts, iv, "x", "lo", "hi", 0)
    with pytest.raises(ValueError, match="inner/left"):
        range_join(pts, iv, "x", "lo", "hi", 1.0, how="full")


def test_range_join_plans_equi_join_not_nested_loop(spark):
    from dataframe_pipeline_spark.relational import range_join
    pts = spark.range(1000).select(F.col("id").alias("pid"),
                                   (F.col("id") % 100).cast("double").alias("x"))
    iv = spark.range(10).select(F.col("id").alias("iid"),
                                (F.col("id") * 10).cast("double").alias("lo"),
                                (F.col("id") * 10 + 9).cast("double").alias("hi"))
    j = range_join(pts, iv, "x", "lo", "hi", 10.0)
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    # the bare inequality join DOES nested-loop — the thing we avoid
    bare = pts.join(iv, (F.col("x") >= F.col("lo")) & (F.col("x") <= F.col("hi")))
    bplan = bare._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" in bplan or "CartesianProduct" in bplan


def test_psi_drift_identical_snapshots_near_zero(spark):
    from dataframe_pipeline_spark.profiling import psi_drift

    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    out = {r["column"]: r["psi"]
           for r in psi_drift(df, df, num_cols=["o_totalprice"],
                              cat_cols=["o_orderstatus"]).collect()}
    assert abs(out["o_totalprice"]) < 1e-9
    assert abs(out["o_orderstatus"]) < 1e-9


def test_psi_drift_detects_shift(spark):
    import math

    from pyspark.sql import Row

    from dataframe_pipeline_spark.profiling import psi_drift

    base = spark.createDataFrame([Row(x=float(i % 10)) for i in range(100)])
    moved = spark.createDataFrame([Row(x=float(i % 10) + 5.0)
                                   for i in range(100)])
    psi = psi_drift(base, moved, num_cols=["x"]).head()["psi"]
    assert psi > 0.25  # conventional "investigate" threshold

    # hand-check the categorical path on a 2-category flip
    b = spark.createDataFrame([Row(c="a")] * 90 + [Row(c="b")] * 10)
    m = spark.createDataFrame([Row(c="a")] * 10 + [Row(c="b")] * 90)
    got = psi_drift(b, m, cat_cols=["c"]).head()["psi"]
    p_a, q_a = 90.5 / 101, 10.5 / 101
    term = lambda p, q: round((p - q) * math.log(p / q), 9)
    exp = round(term(p_a, q_a) + term(1 - p_a + 1/101, 1 - q_a + 1/101), 6)
    # (smoothed shares don't sum to exactly 1; replicate the formula)
    p_b, q_b = 10.5 / 101, 90.5 / 101
    exp = round(term(p_a, q_a) + term(p_b, q_b), 6)
    assert got == exp


def test_psi_drift_null_and_empty_bins(spark):
    from pyspark.sql import Row

    from dataframe_pipeline_spark.profiling import psi_drift

    base = spark.createDataFrame(
        [Row(x=1.0), Row(x=2.0), Row(x=None), Row(x=10.0)])
    cur = spark.createDataFrame([Row(x=1.0), Row(x=None)])
    psi = psi_drift(base, cur, num_cols=["x"], n_bins=4).head()["psi"]
    assert psi is not None  # smoothing keeps empty bins finite
    import pytest
    with pytest.raises(ValueError, match="at least one column"):
        psi_drift(base, cur)


def test_psi_drift_all_null_base_column(spark):
    # a base column with zero non-null rows has no min/max to bin on:
    # descriptive error, not a bare float(None) TypeError (ADVICE r4)
    from pyspark.sql import Row

    from dataframe_pipeline_spark.profiling import psi_drift

    base = spark.createDataFrame([Row(x=None), Row(x=None)], "x double")
    cur = spark.createDataFrame([Row(x=1.0)], "x double")
    import pytest
    with pytest.raises(ValueError, match="no non-null"):
        psi_drift(base, cur, num_cols=["x"])


def test_scd2_collapses_noop_changes(spark):
    from dataframe_pipeline_spark.relational import scd2

    log = spark.createDataFrame(
        [(1, 1, "a"), (1, 2, "a"),     # no-op replay -> collapsed
         (1, 3, "b"), (1, 4, "b"), (1, 5, "a"),
         (2, 1, None), (2, 2, None),   # opening NULL state survives once
         (2, 3, "x")],
        "k long, v long, attr string")
    out = scd2(log, key="k", version_col="v").collect()
    by = {}
    for r in out:
        by.setdefault(r.k, []).append(
            (r.attr, r.valid_from, r.valid_to, r.is_current))
    assert sorted(by[1]) == [("a", 1, 3, False), ("a", 5, None, True),
                             ("b", 3, 5, False)]
    assert sorted(by[2], key=lambda t: t[1]) == [
        (None, 1, 3, False), ("x", 3, None, True)]


def test_scd2_multiple_attrs_and_plan(spark):
    from dataframe_pipeline_spark.relational import scd2

    log = spark.createDataFrame(
        [(1, 1, "a", 10), (1, 2, "a", 10),      # same pair -> noop
         (1, 3, "a", 20),                        # second attr changed
         (1, 4, "b", 20)],
        "k long, v long, s string, n long")
    out = scd2(log, key="k", version_col="v")
    rows = sorted((r.s, r.n, r.valid_from) for r in out.collect())
    assert rows == [("a", 10, 1), ("a", 20, 3), ("b", 20, 4)]
    # count shuffles in the FINAL plan only (the AQE string repeats the
    # whole tree under "== Initial Plan ==")
    plan = (out._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    assert plan.count("Exchange") <= 1     # one key shuffle, no joins
    assert "Join" not in plan
    import pytest
    with pytest.raises(ValueError, match="attribute"):
        scd2(log.select("k", "v"), key="k", version_col="v")


def test_scd2_tied_versions_keep_one_winner(spark):
    """Two rows with the same (key, version) but different attrs must
    yield exactly ONE history row for that version (the last in attr
    order) — never a zero-length interval (valid_from == valid_to)."""
    from dataframe_pipeline_spark.relational import scd2

    log = spark.createDataFrame(
        [(1, 1, "a"), (1, 1, "z"),      # tie: "z" (last in attr order) wins
         (1, 2, "b"),
         (2, 5, None), (2, 5, "q")],    # NULL attr sorts last -> NULL wins
        "k long, v long, attr string")
    out = scd2(log, key="k", version_col="v").collect()
    assert all(r.valid_to is None or r.valid_from < r.valid_to for r in out)
    by = {}
    for r in out:
        by.setdefault(r.k, []).append(
            (r.attr, r.valid_from, r.valid_to, r.is_current))
    assert sorted(by[1]) == [("b", 2, None, True), ("z", 1, 2, False)]
    assert by[2] == [(None, 5, None, True)]


def test_incremental_rollup_matches_full_recompute(spark):
    from pyspark.sql import functions as F

    from dataframe_pipeline_spark.relational import IncrementalRollup

    ev = spark.range(1000).select(
        (F.col("id") % 7).alias("g"),
        (F.col("id") * 0.37).alias("x"),
        F.col("id").alias("id"))
    roll = IncrementalRollup("g", {"x_total": "x"})
    # three arbitrary batches, different split than any grouping
    p1, p2, p3 = (ev.filter(F.col("id") < 300),
                  ev.filter((F.col("id") >= 300) & (F.col("id") < 301)),
                  ev.filter(F.col("id") >= 301))
    state = roll.merge(roll.merge(roll.init(p1), p2), p3)
    got = {r.g: (r.x_total, r.n_rows, round(r.x_total_mean, 9))
           for r in roll.read(state).collect()}
    full = {r.g: (r.x_total, r.n_rows, round(r.x_total_mean, 9))
            for r in roll.read(roll.init(ev)).collect()}
    assert got == full                     # bit-identical decimal sums

    # merging an EMPTY batch is a no-op
    state2 = roll.merge(state, ev.filter(F.col("id") < 0))
    got2 = {r.g: (r.x_total, r.n_rows)
            for r in roll.read(state2).collect()}
    assert got2 == {g: (t, n) for g, (t, n, _) in got.items()}

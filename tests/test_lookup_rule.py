"""The literal-map rule of fitted lookups: a held table of at most
``INLINE_MAX_ROWS`` rows is applied as a literal map inside one
``withColumns``, with no join.  Its values and types equal the join's,
and it launches no job of its own."""

import math

import pandas as pd
import pytest
from lookup_cases import JOINED, LOOKUP_OPERATORS, executed, optimized

import dataframe_pipeline_spark as dfp
from dataframe_pipeline_spark import base

NAN = float("nan")

#: per key type: the fitted key values (NULL among them) and the values
#: transform sees, with NaN, -0.0 and an unseen key
KEYS = {
    "string": (["a", "b", "c", None], ["a", "c", None, "zz"]),
    "bigint": ([1, 2, 3, None], [1, 3, None, 99]),
    "double": ([1.0, 2.5, 0.0, -0.0, NAN, None],
               [2.5, -0.0, 0.0, NAN, None, 99.5]),
}


def _frame(spark, dtype: str, keys: list, n: int):
    rows = [(i, keys[i % len(keys)], keys[(i * 7 + 1) % len(keys)],
             float(i % 5), i % 2) for i in range(n)]
    return spark.createDataFrame(
        rows, f"id bigint, cat {dtype}, grp {dtype}, x double, y int")


def _rows(df) -> list:
    """Rows in a stable order, NaN-aware (NaN and NULL stay apart)."""
    def cell(v):
        if isinstance(v, float) and math.isnan(v):
            return ("nan",)
        return v

    return sorted((tuple(cell(v) for v in r) for r in df.collect()),
                  key=repr)


@pytest.mark.parametrize("dtype", sorted(KEYS))
@pytest.mark.parametrize("name", sorted(set(LOOKUP_OPERATORS) - JOINED))
def test_literal_map_equals_join(spark, monkeypatch, name, dtype):
    """Each lookup class transforms to the same rows and types whether
    its tables are literal maps or broadcast joins (``INLINE_MAX_ROWS``
    0), over keys that are NULL, NaN, -0.0 and unseen.  The
    WrapTransformer LabelEncoder keeps its NULL class."""
    fit_keys, new_keys = KEYS[dtype]
    train = _frame(spark, dtype, fit_keys, 24)
    test = _frame(spark, dtype, new_keys, 12)
    op = LOOKUP_OPERATORS[name]().fit(train)
    inline = op.transform(test)
    assert "Join" not in optimized(inline)
    monkeypatch.setattr(base, "INLINE_MAX_ROWS", 0)
    joined = op.transform(test)
    assert "Join" in optimized(joined)
    want = _rows(joined)
    assert inline.schema == joined.schema
    assert _rows(inline) == want
    if name == "WrapTransformer":
        null_ids = {r.cat_le for r in inline.collect() if r.cat is None}
        assert len(null_ids) == 1 and None not in null_ids


def _parquet(spark, tmp_path, frame: pd.DataFrame):
    path = str(tmp_path / "events.parquet")
    frame.to_parquet(path)
    return spark.read.parquet(path)


def _noop_jobs(count_jobs, df) -> int:
    return count_jobs(df.write.format("noop").mode("overwrite").save)[1]


def test_small_lookup_launches_no_job(spark, tmp_path, count_jobs):
    """A noop write of a frame encoded by a 6-row CLE table is one job:
    the table is a literal map, with no broadcast job of its own."""
    df = _parquet(spark, tmp_path, pd.DataFrame({
        "t": [f"t{i % 5}" for i in range(100)], "v": range(100)}))
    op = dfp.ComplementLabelEncoder(inputs=["t"], outputs=["t_id"]).fit(df)
    assert op.lookups()[0].table.arrow.num_rows == 6
    out = op.transform(df)
    _noop_jobs(count_jobs, out)         # warm
    assert _noop_jobs(count_jobs, out) == 1


def test_online_scoring_shape_joins_only_user_tables(spark, tmp_path,
                                                     count_jobs):
    """The online-scoring pipeline in batch: its three 150-user tables
    stay broadcast joins, the 6-row event-type table is a literal map,
    and a noop write runs one job per broadcast plus one."""
    n = 3000
    df = _parquet(spark, tmp_path, pd.DataFrame({
        "user_id": [(i * 37) % 150 for i in range(n)],
        "event_type": [["view", "click", "cart", "purchase", "share"][i % 5]
                       for i in range(n)],
        "value": [float(i % 97) for i in range(n)],
        "is_purchase": [int(i % 5 == 3) for i in range(n)],
    }))
    pipe = dfp.DataframePipeline(steps=[
        dfp.ComplementLabelEncoder(inputs=["event_type"],
                                   outputs=["type_id"]),
        dfp.Aggregator(inputs=["value"], outputs=["user_mean"],
                       groupby=["user_id"], func="mean"),
        dfp.FrequencyEncoder(inputs=["user_id"], outputs=["user_freq"]),
        dfp.Scaler(inputs=["value"], outputs=["value_mm"],
                   strategy="minmax"),
        dfp.WOEEncoder(inputs=["user_id"], outputs=["user_woe"],
                       target="is_purchase"),
    ])
    pipe.fit_transform(df)
    out = pipe.transform(df)
    plan = executed(out)
    assert plan.count("BroadcastHashJoin") == 3
    joins = [line for line in plan.splitlines() if "HashJoin" in line]
    assert all("user_id" in j and "event_type" not in j for j in joins)
    _noop_jobs(count_jobs, out)         # warm
    assert _noop_jobs(count_jobs, out) == 4

"""serving.py: compiled online scoring of fitted pipelines — result
parity with the batch transform, full LocalRelation fold (collect
launches no job), recompilation on refit, logged fallbacks, and
inline-VALUES row rendering."""

import datetime as dt
import decimal
import math
import struct
import types

import pandas as pd
import pytest

import dataframe_pipeline_spark as dfp
from dataframe_pipeline_spark.base import SparkDFPBase
from dataframe_pipeline_spark.serving import local_rows_df, serve_rows


def _fitted_pipe(spark):
    from dataframe_pipeline_spark.ext_queries import _events

    ev = _events(spark, "/root/testdata/sf0.001")
    pipe = dfp.DataframePipeline(steps=[
        dfp.ComplementLabelEncoder(inputs=["event_type"], outputs=["type_id"]),
        dfp.Aggregator(inputs=["value"], outputs=["user_mean"],
                       groupby=["user_id"], func="mean"),
        dfp.FrequencyEncoder(inputs=["event_type"], outputs=["type_freq"]),
        dfp.Scaler(inputs=["value"], outputs=["value_mm"], strategy="minmax"),
    ])
    pipe.fit(ev)
    return pipe, ev


def test_serving_parity_with_batch(spark):
    pipe, ev = _fitted_pipe(spark)
    rows = ev.limit(40).collect()
    batch = (pipe.transform(spark.createDataFrame(rows, ev.schema))
             .toPandas().sort_values("event_id").reset_index(drop=True))
    serve = (pipe.serving_transform(local_rows_df(spark, rows, ev.schema))
             .toPandas().sort_values("event_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(batch, serve, check_like=True)


def test_serving_plan_folds_to_local_relation(spark):
    """The whole compiled transform over an inline-VALUES input must
    collapse to LocalTableScan — no joins, no exchanges, no jobs."""
    pipe, ev = _fitted_pipe(spark)
    plan = pipe.serving_transform(
        local_rows_df(spark, [ev.head()], ev.schema))
    phys = plan._jdf.queryExecution().executedPlan().toString()
    assert phys.strip().startswith("LocalTableScan"), phys
    assert "Join" not in phys and "Exchange" not in phys


def test_serving_unseen_category_default(spark):
    pipe, ev = _fitted_pipe(spark)
    row = ev.head().asDict()
    row["event_type"] = "never_seen_category"
    out = serve_rows(pipe, spark, [row], ev.schema)[0]
    batch = pipe.transform(
        spark.createDataFrame([tuple(row[f.name] for f in ev.schema.fields)],
                              ev.schema)).collect()[0]
    assert out["type_id"] == batch["type_id"]     # extra_category_ id
    assert out["type_freq"] == batch["type_freq"] == 1  # unseen count=1


def test_serving_unseen_group_null(spark):
    pipe, ev = _fitted_pipe(spark)
    row = ev.head().asDict()
    row["user_id"] = 10**12  # never-fitted group -> left-join miss -> NULL
    out = serve_rows(pipe, spark, [row], ev.schema)[0]
    assert out["user_mean"] is None


def test_serving_oversized_lookup_falls_back_to_join(spark, monkeypatch):
    from dataframe_pipeline_spark import base
    from dataframe_pipeline_spark.ext_queries import _events

    ev = _events(spark, "/root/testdata/sf0.001")
    enc = dfp.ComplementLabelEncoder(inputs=["event_type"],
                                     outputs=["type_id"])
    # force the gate: the dictionary exceeds the bound, so fit
    # checkpoints it instead of holding it on the driver
    monkeypatch.setattr(base, "SERVING_MAX_ROWS", 2)
    enc.fit(ev)
    assert not enc._lookups["event_type"][0].held
    pipe = dfp.DataframePipeline(steps=[enc])
    out = pipe.serving_transform(local_rows_df(spark, [ev.head()], ev.schema))
    phys = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" in phys  # fell back to the batch join plan
    assert out.collect()[0]["type_id"] is not None


def test_local_rows_df_type_fidelity(spark):
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType, TimestampType)

    schema = StructType([
        StructField("i", LongType()), StructField("x", DoubleType()),
        StructField("s", StringType()), StructField("t", TimestampType()),
    ])
    rows = [
        (1, float("nan"), "it's \\ tricky", dt.datetime(2024, 1, 2, 3, 4, 5, 123456)),
        (None, -0.0, None, None),
        (2, float("inf"), "", dt.datetime(1970, 1, 1)),
    ]
    df = local_rows_df(spark, rows, schema)
    assert df.schema == schema
    got = df.collect()
    assert got[0]["i"] == 1 and math.isnan(got[0]["x"])
    assert got[0]["s"] == "it's \\ tricky"
    assert got[0]["t"] == dt.datetime(2024, 1, 2, 3, 4, 5, 123456)
    assert got[1]["i"] is None and got[1]["s"] is None and got[1]["t"] is None
    assert got[2]["x"] == float("inf") and got[2]["s"] == ""
    # the sign of zero survives, as in createDataFrame
    assert math.copysign(1.0, got[1]["x"]) == -1.0
    # and it is a LocalRelation, not a Python RDD
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()


def test_local_rows_df_empty_raises(spark):
    from pyspark.sql.types import LongType, StructField, StructType

    with pytest.raises(ValueError, match="at least one row"):
        local_rows_df(spark, [], StructType([StructField("i", LongType())]))


def test_serving_target_encoder_parity(spark):
    from dataframe_pipeline_spark.operators.target_encoder import TargetEncoder

    ev = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    te = TargetEncoder(inputs=["o_orderstatus"], outputs=["status_te"],
                       target="o_totalprice", smoothing=10.0)
    te.fit(ev)
    pipe = dfp.DataframePipeline(steps=[te])
    rows = ev.limit(20).collect()
    batch = (pipe.transform(spark.createDataFrame(rows, ev.schema))
             .toPandas().sort_values("o_orderkey").reset_index(drop=True))
    serve = (pipe.serving_transform(local_rows_df(spark, rows, ev.schema))
             .toPandas().sort_values("o_orderkey").reset_index(drop=True))
    pd.testing.assert_frame_equal(batch, serve, check_like=True)
    plan = pipe.serving_transform(local_rows_df(spark, rows[:1], ev.schema))
    assert plan._jdf.queryExecution().executedPlan().toString() \
        .strip().startswith("LocalTableScan")
    # unseen category -> global mean, same as the batch join miss
    row = rows[0].asDict()
    row["o_orderstatus"] = "Z"
    out = serve_rows(pipe, spark, [row], ev.schema)[0]
    assert out["status_te"] == pytest.approx(te.global_mean_)


def test_serving_wrap_label_encoder_parity(spark):
    class LabelEncoder:  # sklearn stand-in, recognized by class name
        pass

    from dataframe_pipeline_spark.ext_queries import _events

    ev = _events(spark, "/root/testdata/sf0.001")
    w = dfp.WrapTransformer(inputs=["event_type"], outputs=["type_code"],
                            transformer=LabelEncoder())
    w.fit(ev)
    pipe = dfp.DataframePipeline(steps=[w])
    rows = ev.limit(20).collect()
    batch = (pipe.transform(spark.createDataFrame(rows, ev.schema))
             .toPandas().sort_values("event_id").reset_index(drop=True))
    serve = (pipe.serving_transform(local_rows_df(spark, rows, ev.schema))
             .toPandas().sort_values("event_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(batch, serve, check_like=True)
    plan = pipe.serving_transform(local_rows_df(spark, rows[:1], ev.schema))
    assert plan._jdf.queryExecution().executedPlan().toString() \
        .strip().startswith("LocalTableScan")


def test_serving_woe_encoder_parity(spark):
    from pyspark.sql import functions as F

    from dataframe_pipeline_spark.ext_queries import _events
    from dataframe_pipeline_spark.operators import WOEEncoder

    ev = _events(spark, "/root/testdata/sf0.001").withColumn(
        "y", (F.col("value") > 0).cast("int"))
    enc = WOEEncoder(inputs=["event_type"], outputs=["type_woe"],
                     target="y")
    enc.fit(ev)
    pipe = dfp.DataframePipeline(steps=[enc])
    rows = ev.limit(20).collect()
    batch = (pipe.transform(spark.createDataFrame(rows, ev.schema))
             .toPandas().sort_values("event_id").reset_index(drop=True))
    serve = (pipe.serving_transform(local_rows_df(spark, rows, ev.schema))
             .toPandas().sort_values("event_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(batch, serve, check_like=True)
    # job-free: the WOE lookup compiles to a literal map, no join plan
    plan = pipe.serving_transform(local_rows_df(spark, rows[:1], ev.schema))
    phys = plan._jdf.queryExecution().executedPlan().toString()
    assert phys.strip().startswith("LocalTableScan"), phys
    assert "Join" not in phys
    # unseen category -> 0.0 (no evidence), same as the batch join miss
    row = rows[0].asDict()
    row["event_type"] = "never_seen"
    out = serve_rows(pipe, spark, [row], ev.schema)[0]
    assert out["type_woe"] == 0.0


def test_serving_cache_invalidated_on_refit(spark):
    """Refitting an operator must drop its compiled literal maps —
    otherwise serving_transform keeps scoring with the OLD fitted
    state while transform() uses the new one."""
    from pyspark.sql import functions as F

    from dataframe_pipeline_spark.ext_queries import _events

    ev = _events(spark, "/root/testdata/sf0.001")
    enc = dfp.ComplementLabelEncoder(inputs=["event_type"],
                                     outputs=["type_id"]).fit(ev)
    pipe = dfp.DataframePipeline(steps=[enc])
    head = ev.head()
    serve_rows(pipe, spark, [head], ev.schema)  # builds the literal cache
    # refit on a shifted vocabulary: every old category becomes unseen
    enc.fit(ev.withColumn("event_type", F.concat(F.lit("x_"),
                                                 "event_type")))
    batch = pipe.transform(
        spark.createDataFrame([head], ev.schema)).collect()[0]["type_id"]
    served = serve_rows(pipe, spark, [head], ev.schema)[0]["type_id"]
    assert served == batch  # stale cache would return the pre-refit id


def test_save_after_serving_and_serving_survives_reload(spark, tmp_path):
    """fit -> serve -> save must not crash on the cached Column handles,
    and a reloaded pipeline must rebuild its literal maps so the
    job-free serving path survives a process restart."""
    pipe, ev = _fitted_pipe(spark)
    head = ev.head()
    expected = serve_rows(pipe, spark, [head], ev.schema)[0]  # caches built
    path = str(tmp_path / "served_pipe")
    pipe.save(path)  # would crash if the py4j Columns were pickled
    fresh = spark.newSession()
    loaded = dfp.DataframePipeline.load(fresh, path)
    plan = loaded.serving_transform(local_rows_df(fresh, [head], ev.schema))
    phys = plan._jdf.queryExecution().executedPlan().toString()
    assert phys.strip().startswith("LocalTableScan"), phys
    got = plan.collect()[0]
    for k, v in expected.asDict().items():
        g = got[k]
        if isinstance(v, float) and math.isnan(v):
            assert isinstance(g, float) and math.isnan(g), k
        else:
            assert g == v, k


def test_local_rows_df_tz_aware_datetime(spark):
    """tz-aware datetimes must render the UTC instant, matching what
    batch createDataFrame stores (session timezone is UTC)."""
    from pyspark.sql.types import StructField, StructType, TimestampType

    schema = StructType([StructField("t", TimestampType())])
    aware = dt.datetime(2024, 1, 2, 3, 4, 5, 123456,
                        tzinfo=dt.timezone(dt.timedelta(hours=5)))
    batch = spark.createDataFrame([(aware,)], schema).collect()[0]["t"]
    local = local_rows_df(spark, [(aware,)], schema).collect()[0]["t"]
    assert local == batch == dt.datetime(2024, 1, 1, 22, 4, 5, 123456)


def test_serving_ann_annotator_parity_and_job_free(spark):
    """A pipeline with an ANN stage (r10, VERDICT r9 #7): batch
    transform (distributed search_batch join) and serving path
    (in-process replica probes) must agree on values, column order,
    and neighbour order — and the serving scoring path must launch
    ZERO Spark jobs (the collect inside the ANN compiler evaluates a
    folded LocalRelation; the rebuilt relation keeps folding through
    downstream steps)."""
    from pyspark.sql import functions as F

    from dataframe_pipeline_spark.similarity import AnnAnnotator

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pipe = dfp.DataframePipeline(steps=[
        AnnAnnotator(k=3, n_lists=4, n_probe=2),
        dfp.Scaler(inputs=["label"], outputs=["label_mm"],
                   strategy="minmax"),
    ])
    out = pipe.fit_transform(emb)
    want = {r["vec_id"]: (list(r["nn_ids"]),
                          [round(c, 6) for c in r["nn_cosines"]],
                          round(r["label_mm"], 9))
            for r in out.filter(F.col("vec_id") < 6).collect()}

    rows = emb.filter(F.col("vec_id") < 6).collect()
    served_df = pipe.serving_transform(
        local_rows_df(spark, rows, emb.schema))
    served_df.collect()                       # build caches/replica
    sc = spark.sparkContext
    sc.setJobGroup("ann-serve-gate", "must be job-free")
    got = {r["vec_id"]: (list(r["nn_ids"]),
                         [round(c, 6) for c in r["nn_cosines"]],
                         round(r["label_mm"], 9))
           for r in pipe.serving_transform(
               local_rows_df(spark, rows, emb.schema)).collect()}
    sc.setJobGroup(None, None)
    assert got == want
    assert sc.statusTracker().getJobIdsForGroup("ann-serve-gate") == []


def test_serving_ann_annotator_after_reload(spark, tmp_path):
    """The full deployment loop for an index-carrying pipeline (r10):
    fit -> save -> load -> serving_transform.  The reloaded step's
    replica cache was dropped at save (transient) and must rebuild
    lazily from the written __list-partitioned cell layout; served
    values must equal the pre-save batch transform."""
    from pyspark.sql import functions as F

    from dataframe_pipeline_spark.persistence import (load_pipeline,
                                                      save_pipeline)
    from dataframe_pipeline_spark.similarity import AnnAnnotator

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pipe = dfp.DataframePipeline(steps=[
        AnnAnnotator(k=3, n_lists=4, n_probe=2)])
    want = {r["vec_id"]: list(r["nn_ids"])
            for r in pipe.fit_transform(emb)
            .filter(F.col("vec_id") < 4).collect()}

    path = str(tmp_path / "ann_serve_pipe")
    save_pipeline(pipe, path)
    p2 = load_pipeline(spark, path)

    rows = emb.filter(F.col("vec_id") < 4).collect()
    got = {r["vec_id"]: list(r["nn_ids"])
           for r in p2.serving_transform(
               local_rows_df(spark, rows, emb.schema)).collect()}
    assert got == want


# -- compiled serving: one program per fit, Python lookups, one select ----

def _online_steps():
    """The step list of perfbench's online_scoring workload."""
    return [
        dfp.ComplementLabelEncoder(inputs=["event_type"],
                                   outputs=["type_id"]),
        dfp.Aggregator(inputs=["value"], outputs=["user_mean"],
                       groupby=["user_id"], func="mean"),
        dfp.FrequencyEncoder(inputs=["user_id"], outputs=["user_freq"]),
        dfp.Scaler(inputs=["value"], outputs=["value_mm"], strategy="minmax"),
        dfp.WOEEncoder(inputs=["user_id"], outputs=["user_woe"],
                       target="is_purchase"),
        dfp.FunctionTransformer(inputs=["value"], outputs=["value_z"],
                                func=lambda v: (v - 50.0) / 50.0),
    ]


def _online_split(spark):
    from pyspark.sql import functions as F

    from dataframe_pipeline_spark import sources
    from dataframe_pipeline_spark.ext_queries import _events

    ev = _events(spark, "/root/testdata/sf0.001").withColumn(
        "is_purchase", (F.col("event_type") == "purchase").cast("int"))
    return sources.split_mod(ev, "event_id")


def _assert_exact(got, want):
    """Same columns in the same order, values of the same type and equal
    bit for bit (a NaN equals a NaN; -0.0 differs from 0.0)."""
    assert list(got.asDict()) == list(want.asDict())
    for k, w in want.asDict().items():
        g = got[k]
        assert type(g) is type(w), (k, g, w)
        if isinstance(w, float):
            assert (math.isnan(g) and math.isnan(w)) \
                or struct.pack("<d", g) == struct.pack("<d", w), (k, g, w)
        else:
            assert g == w, (k, g, w)


def _batch_by_id(pipe, spark, rows, schema):
    out = pipe.transform(spark.createDataFrame(rows, schema))
    return out.schema, {r["event_id"]: r for r in out.collect()}


def test_serving_parity_every_row(spark):
    """Every held-out row, served one per call and all in one N-row
    call, equals batch transform: column order, dtypes, values (floats
    bit for bit), including NULL/NaN/unseen inputs."""
    train, test = _online_split(spark)
    pipe = dfp.DataframePipeline(steps=_online_steps())
    pipe.fit_transform(train)
    schema = test.schema
    rows = [r.asDict() for r in test.collect()]
    base = dict(rows[0])
    edge = [dict(base, event_type=None), dict(base, value=None),
            dict(base, value=float("nan")), dict(base, user_id=10**12),
            dict(base, event_type="never_seen_category")]
    for k, r in enumerate(edge):
        r["event_id"] = 10**9 + k
    rows += edge
    tuples = [tuple(r[f.name] for f in schema.fields) for r in rows]
    batch_schema, batch = _batch_by_id(pipe, spark, tuples, schema)

    one_by_one = [serve_rows(pipe, spark, [r], schema)[0] for r in rows]
    all_at_once = serve_rows(pipe, spark, rows, schema)
    assert len(all_at_once) == len(rows)
    for got in one_by_one + all_at_once:
        _assert_exact(got, batch[got["event_id"]])
    served = pipe.serving_transform(local_rows_df(spark, rows, schema))
    assert [(f.name, f.dataType) for f in served.schema.fields] == \
        [(f.name, f.dataType) for f in batch_schema.fields]
    # the edge rows really took the miss / NULL paths
    assert batch[10**9 + 3]["user_mean"] is None
    assert batch[10**9 + 3]["user_freq"] == 1


def _synthetic_events(spark, users: int):
    from pyspark.sql import functions as F

    return spark.range(30_000).select(
        F.col("id").alias("event_id"),
        (F.col("id") % users).alias("user_id"),
        F.element_at(F.array(F.lit("a"), F.lit("b"), F.lit("c")),
                     (F.col("id") % 3 + 1).cast("int")).alias("event_type"),
        (F.col("id") % 100).cast("double").alias("value"),
        (F.col("id") % 7 == 0).cast("int").alias("is_purchase"))


def test_serving_plan_size_independent_of_dictionary(spark):
    """The analyzed plan of a compiled request is the same size for a
    15-key and a 15k-key fitted state: lookups happen in Python."""
    import re

    lengths = []
    for users in (15, 15_000):
        ev = _synthetic_events(spark, users)
        pipe = dfp.DataframePipeline(steps=_online_steps())
        pipe.fit_transform(ev)
        row = dict(event_id=1, user_id=10**12, event_type="b", value=3.0,
                   is_purchase=0)
        served = pipe.serving_transform(local_rows_df(spark, [row],
                                                      ev.schema))
        plan = served._jdf.queryExecution().analyzed().toString()
        lengths.append(len(re.sub(r"#\d+L?", "#", plan)))
        assert served.collect()[0]["user_freq"] == 1
    assert lengths[0] == lengths[1], lengths


@pytest.mark.parametrize("refit", ["scaler", "encoder", "pipeline"])
def test_serving_recompiles_after_one_step_refit(spark, refit):
    """Serve, refit one step (or the whole pipeline through
    ``fit_transform``) on shifted data, serve again: the compiled program
    notices the new step generations and output equals batch."""
    from pyspark.sql import functions as F

    train, test = _online_split(spark)
    pipe = dfp.DataframePipeline(steps=_online_steps())
    pipe.fit_transform(train)
    rows = test.limit(5).collect()
    before = serve_rows(pipe, spark, rows, test.schema)
    value = F.col("value") * 3 + 7
    event_type = F.concat(F.lit("x_"), "event_type")
    if refit == "scaler":
        pipe.steps[3].fit(train.withColumn("value", value))
    elif refit == "encoder":
        pipe.steps[0].fit(train.withColumn("event_type", event_type))
    else:
        pipe.fit_transform(train.withColumns(
            {"event_type": event_type, "value": value}))
    _, batch = _batch_by_id(pipe, spark, rows, test.schema)
    after = serve_rows(pipe, spark, rows, test.schema)
    for got in after:
        _assert_exact(got, batch[got["event_id"]])
    moved = {"scaler": ["value_mm"], "encoder": ["type_id"],
             "pipeline": ["type_id", "value_mm"]}[refit]
    for col in moved:
        assert any(a[col] != b[col] for a, b in zip(after, before)), col


def test_serving_save_load_new_session_job_free(spark, tmp_path):
    """The compiled state is never saved; a pipeline loaded in a new
    session compiles again and serves the same rows without a job."""
    train, test = _online_split(spark)
    pipe = dfp.DataframePipeline(steps=_online_steps())
    pipe.fit_transform(train)
    rows = test.limit(8).collect()
    expected = serve_rows(pipe, spark, rows, test.schema)
    path = str(tmp_path / "online_pipe")
    pipe.save(path)
    fresh = spark.newSession()
    loaded = dfp.DataframePipeline.load(fresh, path)
    serve_rows(loaded, fresh, rows[:1], test.schema)     # compile
    sc = fresh.sparkContext
    sc.setJobGroup("serve-after-load", "must be job-free")
    try:
        got = serve_rows(loaded, fresh, rows, test.schema)
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("serve-after-load") == []
    for g, e in zip(got, expected):
        _assert_exact(g, e)


def test_serving_fallbacks_logged_once(spark, caplog, monkeypatch):
    """Each step that leaves the compiled path is logged once, with its
    index, class and reason: an oversized lookup (batch join), an
    inexact key type (literal map kept in the select), and a barrier
    step.  Results still equal batch."""
    import logging

    from pyspark.sql import functions as F

    from dataframe_pipeline_spark import base

    train, test = _online_split(spark)
    train = train.withColumn("value_key", F.round("value", 0))
    test = test.withColumn("value_key", F.round("value", 0))
    big = dfp.ComplementLabelEncoder(inputs=["event_type"],
                                     outputs=["type_id"])
    pipe = dfp.DataframePipeline(steps=[
        big,
        dfp.ComplementLabelEncoder(inputs=["value_key"],
                                   outputs=["value_code"]),
        dfp.Imputer(inputs=["value"], outputs=["value_imp"],
                    strategy="mean"),
        dfp.Scaler(inputs=["value_imp"], outputs=["value_mm"],
                   strategy="minmax"),
    ])
    pipe.fit_transform(train)
    # refit step 0 with its dictionary over the bound: checkpointed,
    # not held (same ids, so the later steps' fits still match)
    with monkeypatch.context() as m:
        m.setattr(base, "SERVING_MAX_ROWS", 2)
        big.fit(train)
    assert not big._lookups["event_type"][0].held
    rows = test.limit(3).collect()
    with caplog.at_level(logging.WARNING, logger="dataframe_pipeline_spark"):
        for r in rows:
            got = serve_rows(pipe, spark, [r], test.schema)[0]
    msgs = [m.getMessage() for m in caplog.records
            if m.name == "dataframe_pipeline_spark"]
    assert len(msgs) == 3, msgs
    assert "step 0 (ComplementLabelEncoder)" in msgs[0]
    assert "SERVING_MAX_ROWS" in msgs[0]
    assert "step 1 (ComplementLabelEncoder)" in msgs[1]
    assert "value_key" in msgs[1] and "literal map" in msgs[1]
    assert "step 2 (Imputer)" in msgs[2] and "barrier" in msgs[2]
    want = pipe.transform(spark.createDataFrame([rows[-1]], test.schema))
    _assert_exact(got, want.collect()[0])


class LabelEncoder:  # sklearn stand-in, recognized by class name
    pass


#: the six served lookup classes, each keyed on a double ``d`` and a
#: string ``s``
_SERVED = {
    "ComplementLabelEncoder": lambda: dfp.ComplementLabelEncoder(
        inputs=["d", "s"], outputs=["d_o", "s_o"]),
    "FrequencyEncoder": lambda: dfp.FrequencyEncoder(
        inputs=["d", "s"], outputs=["d_o", "s_o"]),
    "Aggregator": lambda: dfp.Aggregator(
        inputs=["x", "x"], outputs=["d_o", "s_o"], groupby=["d", "s"],
        func="mean"),
    "TargetEncoder": lambda: dfp.TargetEncoder(
        inputs=["d", "s"], outputs=["d_o", "s_o"], target="y"),
    "WOEEncoder": lambda: dfp.WOEEncoder(
        inputs=["d", "s"], outputs=["d_o", "s_o"], target="y"),
    "WrapTransformer": lambda: dfp.WrapTransformer(
        inputs=["d", "s"], outputs=["d_o", "s_o"],
        transformer=LabelEncoder()),
}


@pytest.mark.parametrize("tier", ["held", "checkpointed"])
@pytest.mark.parametrize("name", sorted(_SERVED))
def test_serving_parity_float_and_null_keys(spark, monkeypatch, name, tier):
    """Served rows equal batch transform for a double key holding NaN,
    NULL, seen and unseen values and a string key holding NULL and
    unseen values, with the table held (Python lookups) or checkpointed
    (the batch join)."""
    from dataframe_pipeline_spark import base

    schema = "event_id long, d double, s string, x double, y int"
    ds = [1.0, 2.0, float("nan"), None, 1.0, 2.0]
    ss = ["a", "b", None, "a"]
    train = spark.createDataFrame(
        [(i, ds[i % 6], ss[i % 4], float(i), i % 2) for i in range(24)],
        schema)
    if tier == "checkpointed":
        monkeypatch.setattr(base, "SERVING_MAX_ROWS", 1)
    op = _SERVED[name]().fit(train)
    try:
        assert all(t.held == (tier == "held")
                   for t in base.fitted_tables(op))
        pipe = dfp.DataframePipeline(steps=[op])
        rows = [(k, d, s, 1.0, 0) for k, (d, s) in enumerate(
            (d, s) for d in (1.0, float("nan"), None, 9.5)
            for s in ("a", None, "zz"))]
        df = spark.createDataFrame(rows, schema)
        _, batch = _batch_by_id(pipe, spark, rows, df.schema)
        for got in serve_rows(pipe, spark, rows, df.schema):
            _assert_exact(got, batch[got["event_id"]])
        # held: compiled into Python lookups; checkpointed: batch join
        assert bool(getattr(op, base.SERVING_CACHE_ATTR)) == (tier == "held")
    finally:
        for table in base.fitted_tables(op):
            table.release()


# -- per-row operators: one definition for batch and serving --------------

class StandardScaler:  # sklearn stand-ins, recognized by class name
    pass


class MinMaxScaler:
    pass


class SimpleImputer:
    strategy = "mean"


#: one configuration of each per-row operator, over a string ``s``, a
#: double ``x``, a double ``d`` and a date string ``t``
_ROW_OPS = {
    "OneHotEncoder": lambda: dfp.OneHotEncoder(columns=["s"]),
    "QuantileBinner": lambda: dfp.QuantileBinner(
        inputs=["x"], outputs=["x_bin"], n_bins=4),
    "OutlierClipper": lambda: dfp.OutlierClipper(
        inputs=["x", "d"], outputs=["x_clip", "d"], exact=True),
    "HashingEncoder": lambda: dfp.HashingEncoder(
        inputs=["s", "x"], outputs=["s_h", "x_h"], n_buckets=8),
    "StringSplitter": lambda: dfp.StringSplitter(
        inputs=["s", "x"], outputs=["s_sp", "x_sp"], separator="."),
    "TypeConverter": lambda: dfp.TypeConverter(columns=["x", "d"],
                                               type="string"),
    # the first tuple's output ``s`` is the second tuple's input
    "StringConcatenator": lambda: dfp.StringConcatenator(
        inputs=[("s", "x"), ("s", "d"), ("x",)], outputs=["s", "sd", "x2"],
        separator="_"),
    "DateTransformer": lambda: dfp.DateTransformer(column="t"),
    "Wrap StandardScaler": lambda: dfp.WrapTransformer(
        inputs=[("x", "d")], outputs=[("x_z", "d_z")],
        transformer=StandardScaler()),
    # the second input reads the first one's output
    "Wrap MinMaxScaler": lambda: dfp.WrapTransformer(
        inputs=["x", "d"], outputs=["d", "d2"], transformer=MinMaxScaler()),
    "Wrap SimpleImputer": lambda: dfp.WrapTransformer(
        inputs=[("x", "d")], outputs=[("x", "d_fill")],
        transformer=SimpleImputer()),
}

_ROW_SCHEMA = "event_id long, s string, x double, d double, t string"


def _row_frame(spark, rows):
    return spark.createDataFrame(rows, _ROW_SCHEMA)


def _row_train(spark):
    ss = ["a.b", "c", None, "a.b", "d.e.f"]
    xs = [1.5, 20.0, float("nan"), None, -3.25, 7.0, 100.0]
    return _row_frame(spark, [
        (i, ss[i % 5], xs[i % 7], float(i % 3), f"2024-0{1 + i % 9}-1{i % 10}")
        for i in range(40)])


def _row_requests():
    return [(k, s, x, d, t) for k, (s, x, d, t) in enumerate(
        (s, x, d, t) for s in ("a.b", None, "zz")
        for x in (1.5, float("nan"), None, 1e6)
        for d in (0.0, None)
        for t in ("2024-02-29 13:45:00", None))]


@pytest.mark.parametrize("name", sorted(_ROW_OPS))
def test_serving_row_operators_compiled(spark, caplog, count_jobs, name):
    """Each per-row operator serves through its column hook: every
    served row equals batch transform, no step leaves the compiled path
    (no warning on the package logger) and a request launches no job."""
    import logging

    train, rows = _row_train(spark), _row_requests()
    schema = train.schema
    pipe = dfp.DataframePipeline(steps=[_ROW_OPS[name]()])
    pipe.fit_transform(train)
    _, batch = _batch_by_id(pipe, spark, rows, schema)
    with caplog.at_level(logging.WARNING, logger="dataframe_pipeline_spark"):
        served, jobs = count_jobs(serve_rows, pipe, spark, rows, schema)
    assert not [m for m in caplog.records
                if m.name == "dataframe_pipeline_spark"]
    assert jobs == 0
    assert len(served) == len(rows)
    for got in served:
        _assert_exact(got, batch[got["event_id"]])


def test_wrap_scaler_save_load_parity(spark, tmp_path):
    """A pipeline with a wrapped scaler, saved and loaded, transforms
    and serves as the fitted one does."""
    train = _row_train(spark)
    pipe = dfp.DataframePipeline(steps=[_ROW_OPS["Wrap StandardScaler"]()])
    pipe.fit_transform(train)
    rows = _row_requests()
    _, want = _batch_by_id(pipe, spark, rows, train.schema)
    pipe.save(str(tmp_path / "wrap_scaler"))
    loaded = dfp.DataframePipeline.load(spark, str(tmp_path / "wrap_scaler"))
    _, got = _batch_by_id(loaded, spark, rows, train.schema)
    for row in [*got.values(), *serve_rows(loaded, spark, rows,
                                           train.schema)]:
        _assert_exact(row, want[row["event_id"]])


#: operators that keep a batch transform of their own, and why neither
#: ``lookups()`` nor ``column_exprs`` can express it
_OWN_TRANSFORM = {
    "Imputer": "mean/median are statistics of the batch being transformed",
    "RangeTransformer": "its statistics are of the batch being transformed",
    "MinorityTransformer": "its counts are of the batch being transformed",
    "RowTransformer": "a row filter",
    "OutlierClipper": "mode='filter' is a row filter",
    "SetTransformer": "whole-column set algebra padded by row position",
    "FunctionTransformer": "the Arrow-UDF tier samples its return type",
    "WrapTransformer": "the generic kind applies its object in an Arrow UDF",
    "CVTargetEncoder": "a join on two keys (category, fold)",
}


def test_every_operator_declares_or_is_listed():
    """Every exported operator declares its outputs (``column_exprs`` or
    ``lookups``), which batch transform and serving both read, or is
    listed above with the reason it keeps a transform of its own; only a
    listed operator defines ``transform``.  A new per-row operator thus
    cannot become a serving barrier unnoticed."""
    from dataframe_pipeline_spark import operators
    from dataframe_pipeline_spark.base import SparkDFPBase

    for name in operators.__all__:
        cls = getattr(operators, name)
        declares = hasattr(cls, "column_exprs") or hasattr(cls, "lookups")
        assert declares or name in _OWN_TRANSFORM, name
        own = cls.transform is not SparkDFPBase.transform
        assert own == (name in _OWN_TRANSFORM), name


# -- the bound projection: a request without parse, analysis or optimizer --

@pytest.fixture()
def values_path(monkeypatch):
    """Records each ``local_rows_df`` call (one per request served
    through VALUES); ``forbid()`` makes any further call raise."""
    from dataframe_pipeline_spark import serving

    calls = []
    render = serving.local_rows_df

    def counted(*args):
        calls.append(args)
        return render(*args)

    def forbid():
        def refuse(*args):
            raise AssertionError("local_rows_df called after binding")
        monkeypatch.setattr(serving, "local_rows_df", refuse)

    monkeypatch.setattr(serving, "local_rows_df", counted)
    return types.SimpleNamespace(calls=calls, forbid=forbid)


_TYPED_SCHEMA = ("event_id long, i long, t timestamp, d date, "
                 "m decimal(10,2), x double, s string")


def _typed_rows():
    utc5 = dt.timezone(dt.timedelta(hours=5))
    ts = [dt.datetime(2024, 2, 29, 13, 45, 0, 123456),
          dt.datetime(2024, 1, 2, 3, 4, 5, tzinfo=utc5), None]
    ds = [dt.date(2024, 2, 29), dt.date(1969, 12, 31), None]
    ms = [decimal.Decimal("12.34"), decimal.Decimal("-0.05"), None]
    xs = [1.5, float("nan"), None, -0.0, 1e300]
    ss = ["a", "it's", "back\\slash", "'\\'", None, "never seen"]
    return [(k, k % 4, ts[k % 3], ds[k % 3], ms[k % 3], xs[k % 5], ss[k % 6])
            for k in range(30)]


def _typed_pipe(spark):
    train = spark.createDataFrame(_typed_rows()[:20], _TYPED_SCHEMA)
    pipe = dfp.DataframePipeline(steps=[
        dfp.ComplementLabelEncoder(inputs=["s"], outputs=["s_id"]),
        dfp.FrequencyEncoder(inputs=["i"], outputs=["i_freq"]),
        dfp.DateTransformer(column="t"),
        dfp.Scaler(inputs=["x"], outputs=["x_mm"], strategy="minmax"),
        dfp.FunctionTransformer(inputs=["i"], outputs=["i3"],
                                func=lambda i: i * 3),
    ])
    pipe.fit_transform(train)
    return pipe, train.schema


def test_serving_projection_typed_inputs_exact(spark, count_jobs,
                                              values_path):
    """After the first request binds the projection, requests never
    render a VALUES relation, and every served row equals batch bit for
    bit: LongType inputs as small Python ints, naive and tz-aware
    timestamps, dates, decimals, NaN/None/-0.0 doubles and strings with
    quotes and backslashes, one per call and all in one call."""
    from dataframe_pipeline_spark import serving

    pipe, schema = _typed_pipe(spark)
    rows = _typed_rows()
    _, batch = _batch_by_id(pipe, spark, rows, schema)
    serve_rows(pipe, spark, rows[:1], schema)
    prog = pipe._dfp_serving_program
    assert isinstance(prog.projection, serving._Projection)
    values_path.forbid()
    one_by_one, jobs = count_jobs(
        lambda: [serve_rows(pipe, spark, [r], schema)[0] for r in rows])
    assert jobs == 0
    for got in one_by_one + serve_rows(pipe, spark, rows, schema):
        _assert_exact(got, batch[got["event_id"]])
    assert pipe._dfp_serving_program is prog


def test_serving_projection_threads(spark, values_path):
    """One bound program serves 4 threads × 25 requests, switching
    threads often; each equals batch."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    train, test = _online_split(spark)
    pipe = dfp.DataframePipeline(steps=_online_steps())
    pipe.fit_transform(train)
    rows = test.limit(100).collect()
    _, batch = _batch_by_id(pipe, spark, rows, test.schema)
    serve_rows(pipe, spark, rows[:1], test.schema)
    values_path.forbid()

    def client(k):
        return [serve_rows(pipe, spark, [r], test.schema)[0]
                for r in rows[k::4]]

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=4) as pool:
            served = [r for part in pool.map(client, range(4), timeout=600)
                      for r in part]
    finally:
        sys.setswitchinterval(interval)
    assert len(served) == 100
    for got in served:
        _assert_exact(got, batch[got["event_id"]])


class _RandomGate(SparkDFPBase):
    """A column hook with a nondeterministic expression whose value is
    not random: ``x`` wherever ``rand(1) < 2``."""

    def column_exprs(self, view):
        from pyspark.sql import functions as F

        return {"x_gated": F.when(F.rand(1) < 2, view.col("x"))}


def _fallback_case(spark, caplog, values_path, pipe, schema, reason):
    """Three requests keep the VALUES path, the fallback is logged once
    with ``reason``, and every served row equals batch."""
    import logging

    rows = _typed_rows()[:3]
    _, batch = _batch_by_id(pipe, spark, rows, schema)
    with caplog.at_level(logging.WARNING, logger="dataframe_pipeline_spark"):
        served = serve_rows(pipe, spark, rows[:1], schema)
        compiled = len(values_path.calls)
        served += [serve_rows(pipe, spark, [r], schema)[0] for r in rows[1:]]
    msgs = [m.getMessage() for m in caplog.records
            if m.name == "dataframe_pipeline_spark"]
    assert len(msgs) == 1 and "VALUES" in msgs[0] and reason in msgs[0], msgs
    assert pipe._dfp_serving_program.projection is False
    assert len(values_path.calls) == compiled + 2
    for got in served:
        _assert_exact(got, batch[got["event_id"]])


def test_serving_projection_construction_failure_falls_back(
        spark, caplog, monkeypatch, values_path):
    from dataframe_pipeline_spark import serving

    def fail(*args):
        raise RuntimeError("InterpretedMutableProjection: no constructor")

    pipe, schema = _typed_pipe(spark)
    monkeypatch.setattr(serving, "_Projection", fail)
    _fallback_case(spark, caplog, values_path, pipe, schema,
                   "RuntimeError: InterpretedMutableProjection")


def test_serving_nondeterministic_hook_keeps_values_path(spark, caplog,
                                                         values_path):
    pipe, schema = _typed_pipe(spark)
    pipe.steps.append(_RandomGate())
    _fallback_case(spark, caplog, values_path, pipe, schema,
                   "nondeterministic")


def test_serving_mistyped_request_keeps_values_path(spark, caplog,
                                                    values_path):
    """A request value that ``createDataFrame`` would reject (an int in
    a double column) is cast by the VALUES path, logged once; the
    program stays bound for well-typed requests."""
    import logging

    pipe, schema = _typed_pipe(spark)
    rows = _typed_rows()
    _, batch = _batch_by_id(pipe, spark, rows[:1], schema)
    serve_rows(pipe, spark, rows[:1], schema)
    compiled = len(values_path.calls)
    mistyped = [rows[0][:5] + (3,) + rows[0][6:]] * 2
    with caplog.at_level(logging.WARNING, logger="dataframe_pipeline_spark"):
        served = [serve_rows(pipe, spark, [r], schema)[0] for r in mistyped]
    msgs = [m.getMessage() for m in caplog.records
            if m.name == "dataframe_pipeline_spark"]
    assert len(msgs) == 1 and "declared type" in msgs[0], msgs
    assert len(values_path.calls) == compiled + 2
    assert pipe._dfp_serving_program.projection
    typed = dict(batch[0].asDict(), x=3.0)
    _, want = _batch_by_id(pipe, spark, [tuple(typed[f.name] for f in
                                               schema.fields)], schema)
    for got in served:
        _assert_exact(got, want[0])
    values_path.forbid()
    _assert_exact(serve_rows(pipe, spark, rows[:1], schema)[0], batch[0])


def test_serving_projection_failure_falls_back(spark, caplog, monkeypatch,
                                              values_path):
    """A request the bound projection fails on but the VALUES path
    serves is served through VALUES; the program unbinds, logged once.
    The failure is a JVM exception inside the one composed call: the
    request's pickle is replaced by bytes the JVM unpickler rejects."""
    import logging

    pipe, schema = _typed_pipe(spark)
    rows = _typed_rows()[:3]
    _, batch = _batch_by_id(pipe, spark, rows, schema)
    serve_rows(pipe, spark, rows[:1], schema)
    prog, compiled = pipe._dfp_serving_program, len(values_path.calls)
    real = prog.projection._serializer
    monkeypatch.setattr(prog.projection, "_serializer", types.SimpleNamespace(
        dumps=lambda obj: b"\xff" + real.dumps(obj), loads=real.loads))
    with caplog.at_level(logging.WARNING, logger="dataframe_pipeline_spark"):
        served = [serve_rows(pipe, spark, [r], schema)[0] for r in rows]
    msgs = [m.getMessage() for m in caplog.records
            if m.name == "dataframe_pipeline_spark"]
    assert len(msgs) == 1 and "projection failed" in msgs[0] \
        and "Py4JJavaError: net.razorvine.pickle" in msgs[0], msgs
    assert prog.projection is False
    assert len(values_path.calls) == compiled + len(rows)
    for got in served:
        _assert_exact(got, batch[got["event_id"]])


def test_serving_handle_chain_failure_falls_back(spark, caplog, monkeypatch,
                                                 values_path):
    """Where the JVM function cannot be composed (here ``toJava`` is
    looked up without its binary-as-bytes flag, as on a Spark whose
    ``toJava`` has another arity), binding fails, logged once, and every
    request keeps the VALUES path with batch's results."""
    from dataframe_pipeline_spark import serving

    static = serving._Invoke.static

    def other_arity(self, owner, name, descriptor, *bound):
        if name == "toJava":
            descriptor, bound = descriptor.replace("Z)", ")"), bound[:-1]
        return static(self, owner, name, descriptor, *bound)

    pipe, schema = _typed_pipe(spark)
    monkeypatch.setattr(serving._Invoke, "static", other_arity)
    _fallback_case(spark, caplog, values_path, pipe, schema,
                   "binding it failed: Py4JJavaError: "
                   "java.lang.NoSuchMethodException")


def test_serving_bound_request_one_py4j_call_per_row(spark, monkeypatch,
                                                     values_path):
    """A bound request costs one Py4J round trip per row: 50 one-row
    requests make 50 calls and one 7-row request makes 7.  Only this
    thread's calls count: Py4J releases collected Java objects from a
    finalizer thread."""
    import threading

    pipe, schema = _typed_pipe(spark)
    rows = _typed_rows()
    _, batch = _batch_by_id(pipe, spark, rows, schema)
    serve_rows(pipe, spark, rows[:1], schema)
    values_path.forbid()
    client = spark.sparkContext._gateway._gateway_client
    calls = []
    send = client.send_command

    me = threading.get_ident()

    def counted(*args, **kwargs):
        if threading.get_ident() == me:
            calls.append(args[0])
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counted)
    served = [serve_rows(pipe, spark, [rows[k % len(rows)]], schema)[0]
              for k in range(50)]
    assert len(calls) == 50, calls[:8]
    served += serve_rows(pipe, spark, rows[:7], schema)
    assert len(calls) == 57, calls[50:]
    monkeypatch.undo()
    for got in served:
        _assert_exact(got, batch[got["event_id"]])


def test_serving_negative_zero_template_exact(spark, values_path):
    """A first request holding -0.0 binds the projection and is served
    with its sign, as batch serves it; so is the next request."""
    pipe, schema = _typed_pipe(spark)
    rows = [r for r in _typed_rows() if r[5] == 0.0][:2]
    assert all(math.copysign(1.0, r[5]) < 0 for r in rows)
    _, batch = _batch_by_id(pipe, spark, rows, schema)
    served = serve_rows(pipe, spark, rows[:1], schema)
    assert pipe._dfp_serving_program.projection
    values_path.forbid()
    served += serve_rows(pipe, spark, rows[1:], schema)
    for got in served:
        assert math.copysign(1.0, got["x"]) < 0
        _assert_exact(got, batch[got["event_id"]])


def test_serving_template_check_compares_float_bits():
    from pyspark.sql import Row

    from dataframe_pipeline_spark.serving import _same

    nan = float("nan")
    assert _same(Row(x=-0.0, y=nan), Row(x=-0.0, y=nan))
    assert not _same(Row(x=-0.0), Row(x=0.0))
    assert not _same([0.0], [-0.0])
    assert not _same(Row(x=1.0), Row(x=1))

"""Fitted-pipeline save/load round-trip (the reference's export analog:
fit once, persist learned state, score a new frame without refitting)."""

import pandas as pd
import pytest

from dataframe_pipeline_spark import (
    Aggregator,
    ComplementLabelEncoder,
    DataframePipeline,
    FrequencyEncoder,
    FunctionTransformer,
    Scaler,
    base,
)


def _train(spark):
    pdf = pd.DataFrame({
        "cat": ["a", "b", "a", "c", "b", "a"],
        "grp": [1, 1, 2, 2, 2, 1],
        "x": [10.0, 20.0, 30.0, 40.0, 50.0, 60.0],
    })
    return spark.createDataFrame(pdf)


def _test_frame(spark):
    # 'z' is unseen by the fitted encoders; grp 3 unseen by the aggregate.
    pdf = pd.DataFrame({
        "cat": ["b", "z"],
        "grp": [1, 3],
        "x": [25.0, 35.0],
    })
    return spark.createDataFrame(pdf)


def test_save_load_roundtrip(spark, tmp_path):
    pipe = DataframePipeline(steps=[
        ComplementLabelEncoder(inputs=["cat"], outputs=["cat_id"]),
        FrequencyEncoder(inputs=["cat"], outputs=["cat_freq"]),
        Aggregator(inputs=["x"], outputs=["x_mean_grp"], groupby=["grp"], func="mean"),
        Scaler(inputs=["x"], outputs=["x_mm"], strategy="minmax"),
        FunctionTransformer(inputs=["x"], outputs=["x2"], func=lambda v: v * 2),
    ])
    train = _train(spark)
    pipe.fit_transform(train)

    path = str(tmp_path / "fitted_pipe")
    pipe.save(path)
    loaded = DataframePipeline.load(spark, path)

    test = _test_frame(spark)
    exp = pipe.transform(test).toPandas().sort_values("x").reset_index(drop=True)
    got = loaded.transform(test).toPandas().sort_values("x").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp)

    # fitted semantics survived: unseen category -> extra_category_ id,
    # unseen freq -> fill, unseen group key -> null, scaler uses TRAIN min/max
    row_b, row_z = got.iloc[0], got.iloc[1]
    assert row_b["cat_id"] == 1          # 'b' fitted id (a=0, b=1, c=2, extra=3)
    assert row_z["cat_id"] == 3          # unseen -> extra_category_
    assert row_b["cat_freq"] == 2        # train count of 'b'
    assert row_b["x_mean_grp"] == 30.0   # train mean of grp 1
    assert pd.isna(row_z["x_mean_grp"])  # unseen group key
    assert abs(row_b["x_mm"] - 0.3) < 1e-9  # (25-10)/(60-10)
    assert row_z["x2"] == 70.0


def test_load_holds_lookup_without_files(spark, tmp_path):
    """A small fitted dictionary is saved inside the manifest and
    reloads as the same held Arrow table: no parquet directory is
    written and the reloaded view is a LocalRelation."""
    import os

    le = ComplementLabelEncoder(inputs=["cat"], outputs=["cat_id"])
    pipe = DataframePipeline(steps=[le])
    pipe.fit(_train(spark))
    path = str(tmp_path / "le_pipe")
    pipe.save(path)
    assert os.listdir(path) == ["manifest.pkl"]

    loaded = DataframePipeline.load(spark, path)
    table, default_id, n = loaded.steps[0]._lookups["cat"]
    assert table.held and table.arrow.equals(le._lookups["cat"][0].arrow)
    assert "LocalRelation" in (
        table.df._jdf.queryExecution().analyzed().toString())
    assert default_id == 3
    assert n == 4


def test_load_manifest_with_parquet_lookup(spark, tmp_path):
    """A lookup table above ``SERVING_MAX_ROWS`` is checkpointed at fit,
    saved as parquet, and reloads as a non-held FittedTable that
    transforms as the in-memory step does."""
    import os

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    try:
        with pytest.MonkeyPatch.context() as m:
            m.setattr(base, "SERVING_MAX_ROWS", 1)
            le = ComplementLabelEncoder(inputs=["cat"], outputs=["cat_id"])
            le.fit(_train(spark))
        assert not le._lookups["cat"][0].held
        want = le.transform(_test_frame(spark)).collect()
        path = str(tmp_path / "checkpointed")
        DataframePipeline(steps=[le]).save(path)
        assert os.listdir(os.path.join(path, "frames")) == ["s0_f0"]

        loaded = DataframePipeline.load(spark, path).steps[0]
        assert not loaded._lookups["cat"][0].held
        assert sorted(loaded.transform(_test_frame(spark)).collect()) == \
            sorted(want)
    finally:
        base.release_checkpoint(spark, [
            i for i in jsc.getPersistentRDDs().keySet() if i not in before])


def test_ivf_index_roundtrip(spark, tmp_path):
    """fit -> write -> read: identical search result, partitioned-by-cell
    layout on disk (the index IS the table at scale)."""
    import os

    from dataframe_pipeline_spark.similarity import IVFIndex

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = IVFIndex(k=5, n_lists=4, n_probe=2).fit(emb)
    before = idx.search(query_id=0).collect()

    path = str(tmp_path / "ivf")
    idx.write(path)
    cells = os.path.join(path, "frames", "s0_f0")
    parts = sorted(d for d in os.listdir(cells) if d.startswith("__list="))
    assert parts, "cell table must be written partitioned by __list"

    loaded = IVFIndex.read(spark, path)
    assert loaded.centroids_int == idx.centroids_int
    assert loaded.search(query_id=0).collect() == before


def test_lsh_index_roundtrip(spark, tmp_path):
    import os

    from dataframe_pipeline_spark.similarity import HyperplaneLSHIndex

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qvec = list(emb.filter("vec_id = 0").head()["embedding"])

    idx = HyperplaneLSHIndex(k=5, n_planes=4).build(emb)
    before = idx.search_vec(qvec).collect()

    path = str(tmp_path / "lsh")
    idx.write(path)
    buckets = os.path.join(path, "frames", "s0_f0")
    assert any(d.startswith("__bucket=") for d in os.listdir(buckets))

    loaded = HyperplaneLSHIndex.read(spark, path)
    assert loaded.search_vec(qvec).collect() == before


def test_target_encoder_roundtrip(spark, tmp_path):
    """TargetEncoder's lookup DataFrames persist as parquet and reload
    as lazy scans; codes identical after reload."""
    from dataframe_pipeline_spark import TargetEncoder
    from dataframe_pipeline_spark.persistence import (load_operator,
                                                      save_operator)
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 99.0)],
        "id long, cat string, y double")
    enc = TargetEncoder(inputs=["cat"], outputs=["code"], target="y",
                        smoothing=1.0).fit(df)
    p = str(tmp_path / "te")
    save_operator(enc, p)
    enc2 = load_operator(spark, p)
    a = sorted((r.id, round(r.code, 9)) for r in enc.transform(df).collect())
    b = sorted((r.id, round(r.code, 9)) for r in enc2.transform(df).collect())
    assert a == b
    tables = base.fitted_tables(enc2)     # reloaded in the held tier
    assert tables and all(t.held for t in tables)


def test_load_manifest_with_stale_gate_state(spark, tmp_path):
    """Steps saved with the attributes of the former row-count broadcast
    gate (CLE ``broadcast_max_rows``, TE ``cards_``, a class count after
    the WrapTransformer LabelEncoder table) load and transform as the
    in-memory steps do; the stale attributes are ignored."""
    from dataframe_pipeline_spark import TargetEncoder, WrapTransformer

    class LabelEncoder:  # recognized by WrapTransformer by class name
        pass

    train = _train(spark)
    le = ComplementLabelEncoder(inputs=["cat"], outputs=["cat_id"])
    te = TargetEncoder(inputs=["cat"], outputs=["cat_te"], target="x")
    wrap = WrapTransformer(inputs=["cat"], outputs=["cat_le"],
                           transformer=LabelEncoder())
    pipe = DataframePipeline(steps=[le, te, wrap])
    pipe.fit_transform(train)
    want = sorted(pipe.transform(_test_frame(spark)).collect())
    le.broadcast_max_rows = 10
    te.cards_ = [3]
    wrap._state["cat"] = (wrap._state["cat"][0], 3)
    path = str(tmp_path / "stale")
    pipe.save(path)
    loaded = DataframePipeline.load(spark, path)
    assert loaded.steps[0].broadcast_max_rows == 10
    assert sorted(loaded.transform(_test_frame(spark)).collect()) == want


def test_load_uncompressed_manifest(spark, tmp_path, monkeypatch):
    """Held tables are saved as zstd-compressed Arrow IPC; a manifest
    whose tables are uncompressed (as saved before) loads to the same
    tables and transforms as the in-memory pipeline does."""
    import pyarrow as pa

    pipe = DataframePipeline(steps=[
        ComplementLabelEncoder(inputs=["cat"], outputs=["cat_id"]),
        FrequencyEncoder(inputs=["cat"], outputs=["cat_freq"]),
        Aggregator(inputs=["x"], outputs=["x_mean"], groupby=["grp"],
                   func="mean"),
    ])
    pipe.fit_transform(_train(spark))
    want = sorted(pipe.transform(_test_frame(spark)).collect())
    pipe.save(str(tmp_path / "zstd"))
    new_stream = pa.ipc.new_stream
    with monkeypatch.context() as m:
        m.setattr(pa.ipc, "new_stream",
                  lambda sink, schema, options=None: new_stream(sink, schema))
        pipe.save(str(tmp_path / "plain"))
    manifests = [(tmp_path / d / "manifest.pkl").read_bytes()
                 for d in ("zstd", "plain")]
    assert manifests[0] != manifests[1]
    tables = [t.arrow for t in base.fitted_tables(pipe.steps[0])]
    for d in ("zstd", "plain"):
        loaded = DataframePipeline.load(spark, str(tmp_path / d))
        assert [t.arrow for t in base.fitted_tables(loaded.steps[0])] \
            == tables
        assert sorted(loaded.transform(_test_frame(spark)).collect()) == want


def test_outlier_clipper_roundtrip(spark, tmp_path):
    from dataframe_pipeline_spark import OutlierClipper
    from dataframe_pipeline_spark.persistence import (load_operator,
                                                      save_operator)
    df = spark.createDataFrame([(float(v),) for v in range(100)], "x double")
    op = OutlierClipper(inputs=["x"], outputs=["y"], strategy="quantile",
                        lo_q=0.1, hi_q=0.9, exact=True).fit(df)
    p = str(tmp_path / "oc")
    save_operator(op, p)
    op2 = load_operator(spark, p)
    assert op2.bounds_ == op.bounds_
    a = [r.y for r in op.transform(df).orderBy("x").collect()]
    b = [r.y for r in op2.transform(df).orderBy("x").collect()]
    assert a == b


def test_ngram_scorer_roundtrip(spark, tmp_path):
    from dataframe_pipeline_spark.persistence import (load_operator,
                                                      save_operator)
    from dataframe_pipeline_spark.text import NgramScorer

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sc = NgramScorer(k=1.0).fit(docs, "text")
    path = str(tmp_path / "lm")
    save_operator(sc, path)
    sc2 = load_operator(spark, path)
    a = {r["doc_id"]: r["avg_logprob"]
         for r in sc.score(docs, "doc_id", "text").collect()}
    b = {r["doc_id"]: r["avg_logprob"]
         for r in sc2.score(docs, "doc_id", "text").collect()}
    assert a == b and sc2.vocab_size_ == sc.vocab_size_


def test_bpe_trainer_roundtrip(spark, tmp_path):
    from dataframe_pipeline_spark.bpe import BpeTokenizer, BpeTrainer
    from dataframe_pipeline_spark.persistence import (load_operator,
                                                      save_operator)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    tr = BpeTrainer(n_merges=6).fit(docs, "text")
    path = str(tmp_path / "bpe")
    save_operator(tr, path)
    tr2 = load_operator(spark, path)
    assert tr2.merges_ == tr.merges_
    a = BpeTokenizer(tr.merges_).transform(docs.limit(3), "text").collect()
    b = BpeTokenizer(tr2.merges_).transform(docs.limit(3), "text").collect()
    assert [r["tokens"] for r in a] == [r["tokens"] for r in b]


def test_ann_annotator_pipeline_roundtrip(spark, tmp_path):
    """A pipeline whose step CARRIES a fitted index object (AnnAnnotator
    -> IVFIndex -> cell DataFrame) survives save/load: the nested-object
    protocol decomposes the index field-by-field (its cell table written
    partitioned by __list, its serving-replica cache dropped as
    transient) instead of cloudpickling a py4j handle.  The reloaded
    step must transform identically, serve job-free via serve_rows
    (replica rebuilt lazily), and read its cells from the parquet
    layout."""
    from dataframe_pipeline_spark.persistence import (load_pipeline,
                                                      save_pipeline)
    from dataframe_pipeline_spark.similarity import AnnAnnotator

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pipe = DataframePipeline(steps=[AnnAnnotator(k=3, n_lists=4, n_probe=2)])
    pipe.fit(emb)
    # populate the replica cache so save must actually drop it
    pipe.steps[0].serve_rows([(0, [float(x) for x in
                                   emb.head()["embedding"]])])

    path = str(tmp_path / "ann_pipe")
    save_pipeline(pipe, path)
    p2 = load_pipeline(spark, path)

    q = emb.filter("vec_id < 3")
    exp = sorted((r.vec_id, list(r.nn_ids)) for r in pipe.transform(q).collect())
    got = sorted((r.vec_id, list(r.nn_ids)) for r in p2.transform(q).collect())
    assert got == exp
    # transient cache was dropped and rebuilds lazily after reload
    assert p2.steps[0].index._replica is None
    rows = [(r.vec_id, list(r.embedding)) for r in q.collect()]
    assert [ids for ids, _ in p2.steps[0].serve_rows(rows)] == \
        [ids for _, ids in exp]
    # the reloaded cell table is the written parquet layout, not a pickle
    plan = p2.steps[0].index._assigned._jdf.queryExecution() \
        .executedPlan().toString()
    assert "FileScan parquet" in plan


def test_fitted_aggregator_roundtrip_drops_fit_frame(spark, tmp_path):
    """A fitted GROUPED Aggregator persists its lookup table only —
    never its fit input (ADVICE r12: a remembered fit frame once wrote
    the ENTIRE training frame, fact-table-sized at scale).  No frame
    dir at all (the held lookup rides in the manifest); the reloaded
    step transforms a NEW frame identically via the lookup join."""
    import os

    from dataframe_pipeline_spark.persistence import (load_operator,
                                                      save_operator)

    agg = Aggregator(inputs=["x"], outputs=["x_mean_grp"],
                     groupby=["grp"], func="mean")
    train = _train(spark)
    agg.fit_transform(train)
    path = str(tmp_path / "agg_only")
    save_operator(agg, path)

    assert os.listdir(path) == ["manifest.pkl"]   # NOT the fit frame

    agg2 = load_operator(spark, path)
    test = _test_frame(spark)
    exp = {r["grp"]: r["x_mean_grp"]
           for r in agg.transform(test).collect()}
    got = {r["grp"]: r["x_mean_grp"]
           for r in agg2.transform(test).collect()}
    assert got == exp and got[3] is None   # unseen group key -> null


def _lookup_pipeline():
    from dataframe_pipeline_spark import TargetEncoder, WOEEncoder

    return DataframePipeline(steps=[
        ComplementLabelEncoder(inputs=["cat"], outputs=["cat_id"]),
        FrequencyEncoder(inputs=["cat"], outputs=["cat_freq"]),
        Aggregator(inputs=["x"], outputs=["x_mean_grp"], groupby=["grp"],
                   func="mean"),
        TargetEncoder(inputs=["cat"], outputs=["cat_te"], target="y",
                      smoothing=1.0),
        WOEEncoder(inputs=["cat"], outputs=["cat_woe"], target="y"),
    ])


def _labeled(seed: int) -> pd.DataFrame:
    n = 30
    return pd.DataFrame({
        "id": range(n),
        "cat": [f"k{(i * seed) % 7}" for i in range(n)],
        "grp": [(i * seed) % 5 for i in range(n)],
        "x": [i * 0.1 * seed for i in range(n)],
        "y": [(i * seed) % 3 == 0 for i in range(n)],
    }).astype({"y": "int64"})


@pytest.mark.parametrize("change", ["overwrite", "delete"])
def test_fitted_state_is_a_snapshot(spark, tmp_path, change):
    """A fitted pipeline does not read its training source again: after
    the source file is overwritten with other rows, or deleted, batch
    transform, serving and save → load → transform give exactly the
    answers they gave before (no float rounding)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dataframe_pipeline_spark.serving import serve_rows

    src = str(tmp_path / "train.parquet")
    pq.write_table(pa.Table.from_pandas(_labeled(1), preserve_index=False),
                   src)
    pipe = _lookup_pipeline()
    pipe.fit(spark.read.parquet(src))
    test = spark.createDataFrame(_labeled(3))
    rows = test.collect()
    batch = sorted(pipe.transform(test).collect())
    served = sorted(serve_rows(pipe, spark, rows, test.schema))

    if change == "overwrite":
        pq.write_table(pa.Table.from_pandas(_labeled(2),
                                            preserve_index=False), src)
    else:
        os.remove(src)
    path = str(tmp_path / "model")
    pipe.save(path)
    loaded = DataframePipeline.load(spark, path)

    assert sorted(pipe.transform(test).collect()) == batch
    assert sorted(serve_rows(pipe, spark, rows, test.schema)) == served
    assert sorted(loaded.transform(test).collect()) == batch
    assert served == batch


def test_transform_time_statistics_follow_the_scored_batch(spark,
                                                           tmp_path):
    """Imputer mean/median and RangeTransformer statistics are per batch
    by design (the reference computes them at transform time): a
    pipeline fitted on A, saved and loaded fills B with B's own
    statistics, not A's."""
    from pyspark.sql import functions as F

    from dataframe_pipeline_spark import Imputer, RangeTransformer

    def frame(xs):
        return spark.createDataFrame([(i, x) for i, x in enumerate(xs)],
                                     "i long, x double")

    a = frame([1.0, 2.0, None, 3.0, 50.0])
    b = frame([10.0, None, 20.0, 40.0, 200.0, 300.0, float("nan")])
    pipe = DataframePipeline(steps=[
        Imputer(inputs=["x"], outputs=["x_mean"], strategy="mean"),
        Imputer(inputs=["x"], outputs=["x_median"], strategy="median"),
        RangeTransformer(inputs=["x"], outputs=["x_range"],
                         dict={(100.0, None): "median",
                               (None, 100.0): "mean"}),
    ])
    pipe.fit_transform(a)
    path = str(tmp_path / "model")
    pipe.save(path)
    out = {r.i: r for r in
           DataframePipeline.load(spark, path).transform(b).collect()}

    v = F.when(F.isnan("x"), None).otherwise(F.col("x"))
    want = b.agg(F.mean(v), F.percentile(v, F.lit(0.5)),
                 F.percentile(F.when(v <= 100.0, v), F.lit(0.5)),
                 F.mean(F.when(v >= 100.0, v))).collect()[0]
    mean, median, low_median, high_mean = want
    assert (mean, median) != tuple(a.agg(F.mean(v), F.percentile(
        v, F.lit(0.5))).collect()[0])
    assert out[1].x_mean == mean and out[6].x_mean == mean
    assert out[1].x_median == median and out[6].x_median == median
    assert out[0].x_range == low_median and out[3].x_range == low_median
    assert out[4].x_range == high_mean and out[5].x_range == high_mean


def test_held_save_load_and_first_serve_launch_no_jobs(
        spark, tmp_path, count_jobs):
    """With every fitted table held, save and load launch no Spark job,
    and neither does the first request after load (which compiles the
    serving program from the held tables)."""
    from dataframe_pipeline_spark.serving import serve_rows

    train = spark.createDataFrame(_labeled(1))
    pipe = _lookup_pipeline()
    pipe.fit(train)
    path = str(tmp_path / "model")
    _, save_jobs = count_jobs(pipe.save, path)
    loaded, load_jobs = count_jobs(DataframePipeline.load, spark, path)
    rows = spark.createDataFrame(_labeled(3)).collect()
    served, serve_jobs = count_jobs(serve_rows, loaded, spark, rows[:1],
                                    train.schema)
    assert (save_jobs, load_jobs, serve_jobs) == (0, 0, 0)
    assert served == sorted(pipe.transform(
        spark.createDataFrame(rows[:1], train.schema)).collect())

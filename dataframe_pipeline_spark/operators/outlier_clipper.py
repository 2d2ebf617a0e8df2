"""OutlierClipper — quantile-based winsorization / outlier filtering,
the robust-statistics counterpart of ``Scaler``.

Beyond-reference data-prep surface (the reference's transformers assume
pre-cleaned inputs): clamp or drop values outside fitted per-column
bounds, where the bounds come from either

* ``strategy='quantile'`` — the [lo_q, hi_q] quantiles (winsorization);
* ``strategy='iqr'`` — Tukey fences ``Q1 - k*IQR .. Q3 + k*IQR``.

Spark-first, same fit discipline as Scaler: ONE ``df.agg`` computes
every bound for every column in a single scan.  ``exact=True`` uses
``percentile`` (exact interpolation, needed for engine-parity oracles;
it holds each partition's values in executor memory, so it is slow
over many millions of rows — SCALE.md §Round 7); the default
``exact=False`` uses ``approx_percentile`` (Greenwald-Khanna sketch,
partial-aggregatable, bounded memory — the only sane choice at 100 TB;
``accuracy`` feeds only this sketch).  Transform is pure
Column arithmetic (``least``/``greatest`` or a filter) folded into
whole-stage codegen — no second pass, no UDF.  Clip mode is a column
hook; filter mode, a row filter, is a serving barrier.

``mode='clip'`` (default) clamps into the bounds, preserving row count
(NULL/NaN pass through untouched); ``mode='filter'`` drops rows outside
the bounds for any fitted column (NULL/NaN kept — missing is not an
outlier).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..base import ColumnView, SparkDFPBase, nan_to_null


class OutlierClipper(SparkDFPBase):
    def __init__(self, inputs=None, outputs=None, strategy: str = "iqr",
                 mode: str = "clip", k: float = 1.5,
                 lo_q: float = 0.01, hi_q: float = 0.99,
                 exact: bool = False, accuracy: int = 10000):
        if strategy not in ("iqr", "quantile"):
            raise ValueError(f"Not implemented strategy: {strategy!r}")
        if mode not in ("clip", "filter"):
            raise ValueError(f"mode must be clip|filter, not {mode!r}")
        if not 0.0 <= lo_q < hi_q <= 1.0:
            raise ValueError("need 0 <= lo_q < hi_q <= 1")
        self.inputs = list(inputs or [])
        self.outputs = list(outputs or self.inputs)
        self.strategy = strategy
        self.mode = mode
        self.k = float(k)
        self.lo_q, self.hi_q = float(lo_q), float(hi_q)
        self.exact = exact
        self.accuracy = int(accuracy)
        self.bounds_ = []          # per input: (lo, hi) driver literals

    def _pctl_pair(self, col, q0: float, q1: float):
        """BOTH quantiles from ONE aggregation state (a single
        value-count map / sketch over the data) — two separate
        percentile aggregates each build their own, doubling the
        dominant fit cost at scale."""
        qq = F.array(F.lit(q0), F.lit(q1))
        if self.exact:
            return F.percentile(col, qq)
        return F.percentile_approx(col, qq, F.lit(self.accuracy))

    def fit(self, df: DataFrame, **params):
        qs = ((self.lo_q, self.hi_q) if self.strategy == "quantile"
              else (0.25, 0.75))
        vcols = [nan_to_null(df, c) for c in self.inputs]
        row = df.agg(*[self._pctl_pair(v, qs[0], qs[1]).alias(f"p{i}")
                       for i, v in enumerate(vcols)]).collect()[0]
        self.bounds_ = []
        for pair in row:
            a = float(pair[0]) if pair is not None and pair[0] is not None \
                else None
            b = float(pair[1]) if pair is not None and pair[1] is not None \
                else None
            if a is None or b is None:          # all-NULL column
                self.bounds_.append((None, None))
            elif self.strategy == "iqr":
                iqr = b - a
                self.bounds_.append((a - self.k * iqr, b + self.k * iqr))
            else:
                self.bounds_.append((a, b))
        return self

    def column_exprs(self, view):
        """Clip mode; filter mode drops rows (its own ``transform``)."""
        if len(self.bounds_) != len(self.inputs):
            raise RuntimeError("OutlierClipper.transform before fit")
        if self.mode != "clip":
            return None
        updates = {}
        for c, out, (lo, hi) in zip(self.inputs, self.outputs, self.bounds_):
            col = view.nan_to_null(c)
            if lo is None:
                updates[out] = col
            else:
                # greatest/least skip NULLs (they'd clamp a missing
                # value to the bound) — guard NULL through explicitly
                updates[out] = F.when(col.isNull(), col).otherwise(
                    F.least(F.greatest(col, F.lit(lo)), F.lit(hi)))
        return updates

    def transform(self, df: DataFrame) -> DataFrame:
        updates = self.column_exprs(ColumnView(df))
        if updates is not None:
            return df.withColumns(updates)
        cond = F.lit(True)
        for c, (lo, hi) in zip(self.inputs, self.bounds_):
            if lo is None:
                continue
            col = nan_to_null(df, c)
            cond = cond & (col.isNull()
                           | ((col >= F.lit(lo)) & (col <= F.lit(hi))))
        return df.filter(cond)

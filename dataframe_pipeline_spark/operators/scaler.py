"""Scaler — minmax / standard / min normalization, exact sklearn parity.

Reference: /root/reference/dfpipeline/Scaler.py — wraps sklearn
MinMaxScaler / StandardScaler, or subtracts the fitted min.

Parity notes (what the sklearn scalers actually compute):
- minmax:    (x - data_min) / (data_max - data_min); zero range → divisor 1
  (sklearn ``_handle_zeros_in_scale``).
- standard:  (x - mean) / std_pop with **population** std (ddof=0); zero
  std → divisor 1.
- min:       x - min.
- robust:    (x - median) / IQR with interpolated quartiles (sklearn
  RobustScaler defaults: centering on the median, scaling by
  Q3 - Q1); zero IQR → divisor 1.  Fit uses exact ``percentile``
  for sklearn/oracle parity; it holds each partition's values in
  executor memory, so over many millions of rows it is slow (SCALE.md
  §Round 7) and ``approx=True`` (the bounded-memory
  ``percentile_approx`` sketch, rank error set by ``accuracy``) is the
  large-input path.
- NaN is ignored when fitting and propagates through transform (our
  arithmetic over NULL-normalized values does the same).

Spark-first: fit runs ONE combined aggregate over every input column
(single scan, scalars to the driver — a handful of doubles regardless of
data size); transform is pure Column arithmetic folded into codegen.
The standard mean is the correctly rounded one of
:func:`.imputer.statistics` (``avg`` depends on the partition order), whose
aggregate computes ``stddev_pop`` too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..base import SparkDFPBase, nan_to_null
from .imputer import statistics


class Scaler(SparkDFPBase):
    def __init__(self, inputs=None, outputs=None, strategy=None,
                 approx: bool = False, accuracy: int = 10000):
        """``approx`` (robust strategy only): fit the quartiles with the
        bounded-memory ``percentile_approx`` sketch instead of the exact
        ``percentile`` — the 100 TB path.  ``accuracy`` feeds only that
        sketch: rank error is at most n/``accuracy`` per quantile
        (Greenwald-Khanna guarantee); sklearn parity keeps the exact
        default."""
        self.inputs = list(inputs or [])
        self.outputs = list(outputs or [])
        self.strategy = strategy
        if strategy not in ("minmax", "standard", "min", "robust"):
            raise ValueError(f"Not implemented strategy: {strategy!r}")
        self.approx = bool(approx)
        self.accuracy = int(accuracy)
        self.offsets = []  # per input: offset subtracted
        self.scales = []   # per input: multiplier  (1/denominator)

    def fit(self, df: DataFrame, **params):
        self.offsets, self.scales = [], []
        if self.strategy == "standard":
            # the correctly rounded mean, whatever the partition order,
            # and the deviation in the same aggregate
            vs = [nan_to_null(df, c) for c in self.inputs]
            self.offsets, _, sds = statistics(df, means=vs, stddevs=vs)
            self.scales = [1.0 / sd if sd not in (None, 0, 0.0) else 1.0
                           for sd in sds]
            return self
        aggs = []
        for i, c in enumerate(self.inputs):
            v = nan_to_null(df, c)
            if self.strategy == "minmax":
                aggs += [F.min(v).alias(f"lo{i}"), F.max(v).alias(f"hi{i}")]
            elif self.strategy == "robust":
                # ONE array-percentile state per column (a single
                # value-count map over the data), not three separate
                # percentile aggregates each building its own — 3x the
                # dominant fit cost at scale (measured on 6M rows)
                qarr = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
                q = (F.percentile_approx(v, qarr, F.lit(self.accuracy))
                     if self.approx else F.percentile(v, qarr))
                aggs += [q.alias(f"qs{i}")]
            else:  # min
                aggs += [F.min(v).alias(f"lo{i}")]
        row = df.agg(*aggs).collect()[0]
        for i in range(len(self.inputs)):
            if self.strategy == "minmax":
                lo, hi = row[f"lo{i}"], row[f"hi{i}"]
                rng = (hi - lo) if (hi is not None and lo is not None) else None
                scale = 1.0 / rng if rng not in (None, 0, 0.0) else 1.0
                self.offsets.append(lo)
                self.scales.append(scale)
            elif self.strategy == "robust":
                qs = row[f"qs{i}"]
                md = qs[1] if qs is not None else None
                iqr = (qs[2] - qs[0]) if qs is not None else None
                scale = 1.0 / iqr if iqr not in (None, 0, 0.0) else 1.0
                self.offsets.append(md)
                self.scales.append(scale)
            else:
                self.offsets.append(row[f"lo{i}"])
                self.scales.append(None)  # plain subtraction keeps input dtype
        return self

    def column_exprs(self, view) -> dict:
        updates = {}
        for input, output, off, scale in zip(self.inputs, self.outputs, self.offsets, self.scales):
            col = view.nan_to_null(input)
            if self.strategy == "min":
                updates[output] = col - F.lit(off)
            else:
                updates[output] = (col - F.lit(off)) * F.lit(scale)
        return updates

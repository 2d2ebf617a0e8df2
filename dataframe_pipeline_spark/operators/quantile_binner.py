"""QuantileBinner — equal-frequency discretization (quartile/decile
binning), the feature-engineering step between the reference's
RangeTransformer (hand-written boundaries,
/root/reference/dfpipeline/RangeTransformer.py) and Scaler: boundaries
are *learned* from the data distribution instead of supplied.

Semantics (sklearn ``KBinsDiscretizer(strategy='quantile')`` shape):
fit computes the ``n_bins - 1`` interior quantiles of each input with
exact linear interpolation (``percentile``, NOT percentile_approx —
same exactness contract as Imputer median); transform assigns
``bin = #{boundaries strictly below value}``, i.e. values equal to a
boundary fall in the lower bin, NULL/NaN propagates as NULL.  Duplicate
boundaries (heavy-tailed data) collapse naturally: an empty bin is
simply never assigned.

Spark-first / 100 TB notes: fit is ONE ``df.agg`` of
``percentile(v, array(qs))`` over all inputs — a single scan returning
``n_inputs × (n_bins-1)`` doubles to the driver.  Exact percentile
state is a value-count map per partition, so it grows with the
column's cardinality and is slow over many millions of rows (SCALE.md
§Round 7); at extreme scale the ``percentile_approx`` sketch tier
(Aggregator's ``approx_median`` pattern) is the swap-in.  Transform
is a codegen comparison chain — map-only, no shuffle, no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..base import SparkDFPBase, nan_to_null


class QuantileBinner(SparkDFPBase):
    def __init__(self, inputs=None, outputs=None, n_bins: int = 4):
        self.inputs = list(inputs or [])
        self.outputs = list(outputs or [])
        if n_bins < 2:
            raise ValueError("n_bins must be >= 2")
        self.n_bins = n_bins
        self.boundaries_ = []  # per input: list of n_bins-1 floats

    def fit(self, df: DataFrame, **params):
        qs = F.array(*[F.lit(i / self.n_bins) for i in range(1, self.n_bins)])
        row = df.agg(*[F.percentile(nan_to_null(df, c), qs).alias(f"b{i}")
                       for i, c in enumerate(self.inputs)]).collect()[0]
        # an all-NULL column's percentile is NULL: no boundaries
        self.boundaries_ = [[] if r is None else [float(v) for v in r]
                            for r in row]
        return self

    def column_exprs(self, view) -> dict:
        updates = {}
        for input, output, bounds in zip(self.inputs, self.outputs,
                                         self.boundaries_):
            v = view.nan_to_null(input)
            bin_no = F.lit(0)
            for b in bounds:
                bin_no = bin_no + F.when(v > F.lit(float(b)), 1).otherwise(0)
            # NULL in -> NULL out (the when-chain alone would yield bin 0)
            updates[output] = F.when(v.isNull(), F.lit(None)).otherwise(
                bin_no).cast("int")
        return updates

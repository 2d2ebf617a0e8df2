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

The per-transform statistics are one ``df.agg`` over all inputs (``mean``
or exact ``percentile(c, 0.5)``), run while the plan is built; at scale
this is the price of the reference's per-batch semantics.
``percentile`` holds each partition's values in executor memory, so a
median fill over many millions of rows is slow (SCALE.md §Round 7), but
it is exact.
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
        if self.strategy is None:
            fills = [self.val] * len(self.inputs)
        else:
            stat = (F.mean if self.strategy == "mean"
                    else lambda v: F.percentile(v, F.lit(0.5)))
            row = df.agg(*[stat(nan_to_null(df, c)).alias(f"v{i}")
                           for i, c in enumerate(self.inputs)]).collect()[0]
            fills = list(row)
        self.values = fills
        return df.withColumns(self._fill_exprs(ColumnView(df), fills))

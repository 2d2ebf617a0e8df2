"""ColumnSelector — keep or drop columns (projection).

Reference: /root/reference/dfpipeline/ColumnSelector.py:616-663.
Spark mapping: ``df.drop(*cols)`` — a pure projection.  Catalyst's
ColumnPruning pushes this all the way into the parquet scan, so dropped
columns are never read off disk (check ``ReadSchema`` in ``explain``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..base import SparkDFPBase


class ColumnSelector(SparkDFPBase):
    def __init__(self, columns=None, drop: bool = False):
        self.columns = list(columns or [])
        self.drop = drop
        self.selected_columns = None
        self.drop_columns = None

    def fit(self, df: DataFrame, **params):
        # Same fit bookkeeping as the reference (ColumnSelector.py:647-654):
        # resolve which columns survive against the fit-time schema.
        if self.drop:
            self.selected_columns = [c for c in df.columns if c not in set(self.columns)]
            self.drop_columns = list(self.columns)
        else:
            self.selected_columns = list(self.columns)
            self.drop_columns = [c for c in df.columns if c not in set(self.columns)]
        return self

    def column_exprs(self, view) -> dict:
        columns = view.columns
        drop = self.drop_columns
        if drop is None:  # un-fitted: resolve against this frame
            listed = set(self.columns)
            drop = [c for c in columns if (c in listed) == self.drop]
        return {c: None for c in drop if c in columns}

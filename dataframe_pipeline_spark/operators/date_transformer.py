"""DateTransformer — derive calendar features from a date/time column.

Reference: /root/reference/dfpipeline/DateTransformer.py (transform converts
the column to datetime — from a date string, or from epoch-seconds offset
against an ``origin`` — then derives six features with pandas ``dt``
accessors).

Spark mapping (all built-in, codegen'd):
  MY month-in-year      → F.month
  WY ISO week-of-year   → F.weekofyear  (pandas isocalendar().week is ISO,
                          and so is Spark's weekofyear)
  DY day-of-year        → F.dayofyear
  DM day-of-month       → F.dayofmonth
  DW day-of-week        → (F.dayofweek + 5) % 7  — pandas is Monday=0,
                          Spark dayofweek is Sunday=1 → shift
  HD hour-of-day        → F.hour

The source column is replaced by its timestamp conversion, as in the
reference.  ``origin`` mode: ``timestamp_seconds(unix_ts(origin) + col)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..base import SparkDFPBase


class DateTransformer(SparkDFPBase):
    DATE_FIELDS = ["MY", "WY", "DY", "DM", "DW", "HD"]

    def __init__(self, column=None, origin=None):
        self.column = column
        self.origin = origin

    def _timestamp(self, col):
        if self.origin is None:
            return F.to_timestamp(col)
        return F.timestamp_seconds(
            F.unix_timestamp(F.to_timestamp(F.lit(self.origin))) + col.cast("long")
        )

    @staticmethod
    def _fields(column: str, t) -> dict:
        fields = {
            f"{column}_MY": F.month(t),
            f"{column}_WY": F.weekofyear(t),
            f"{column}_DY": F.dayofyear(t),
            f"{column}_DM": F.dayofmonth(t),
            f"{column}_DW": (F.dayofweek(t) + F.lit(5)) % 7,
            f"{column}_HD": F.hour(t),
        }
        return {k: v.cast("long") for k, v in fields.items()}

    def column_exprs(self, view) -> dict:
        ts = self._timestamp(view.col(self.column))
        return {self.column: ts, **self._fields(self.column, ts)}

    def transform(self, df: DataFrame) -> DataFrame:
        df = df.withColumn(self.column, self._timestamp(F.col(self.column)))
        return df.withColumns(self._fields(self.column, F.col(self.column)))

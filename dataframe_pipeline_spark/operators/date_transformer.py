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

from pyspark.sql import functions as F

from ..base import SparkDFPBase


class DateTransformer(SparkDFPBase):
    DATE_FIELDS = ["MY", "WY", "DY", "DM", "DW", "HD"]

    def __init__(self, column=None, origin=None):
        self.column = column
        self.origin = origin

    def column_exprs(self, view) -> dict:
        t = view.col(self.column)
        if self.origin is None:
            t = F.to_timestamp(t)
        else:
            t = F.timestamp_seconds(F.unix_timestamp(
                F.to_timestamp(F.lit(self.origin))) + t.cast("long"))
        fields = {"MY": F.month(t), "WY": F.weekofyear(t),
                  "DY": F.dayofyear(t), "DM": F.dayofmonth(t),
                  "DW": (F.dayofweek(t) + F.lit(5)) % 7, "HD": F.hour(t)}
        return {self.column: t, **{f"{self.column}_{k}": v.cast("long")
                                   for k, v in fields.items()}}

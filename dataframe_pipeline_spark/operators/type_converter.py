"""TypeConverter — cast columns to a target type.

Reference: /root/reference/dfpipeline/TypeConverter.py (transform casts each
listed column with ``astype``).  Spark mapping: ``col.cast(T)`` — stays in
whole-stage codegen.
"""

from __future__ import annotations

from ..base import SparkDFPBase, to_spark_type


class TypeConverter(SparkDFPBase):
    def __init__(self, columns=None, type=None):
        self.columns = list(columns or [])
        self.type = type

    def column_exprs(self, view) -> dict:
        if self.type is None:
            return {}
        spark_type = to_spark_type(self.type)
        return {c: view.col(c).cast(spark_type) for c in self.columns}

"""MapTransformer — dictionary value mapping (exact or regex).

Reference: /root/reference/dfpipeline/MapTransformer.py (``df.replace(dict,
regex=...)`` + optional default for unmatched values + optional dtype cast).

Spark mapping:
- exact dict  → a chained ``F.when(col == key, value)`` CASE expression
  (small config dicts only — large *fitted* maps belong to the encoder
  operators, which join instead).  A NaN/None key matches NULL-or-NaN, like
  pandas ``replace({np.nan: v})``.
- regex dict  → chained ``regexp_replace`` (pandas regex replace is a
  substring substitution, same as regexp_replace).
- ``default_value`` → values not in ``dict.values()`` after mapping collapse
  to the default (reference MapTransformer.py transform: ``.where(isin(
  dict.values()), other=default)``); NULL is not in any values-list so NULL
  also becomes the default, matching pandas NaN-isin-False.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from ..base import SparkDFPBase, is_floating, to_spark_type


def _is_nan_key(k) -> bool:
    return k is None or (isinstance(k, float) and math.isnan(k))


class MapTransformer(SparkDFPBase):
    def __init__(self, inputs=None, outputs=None, dict=None, regex: bool = False,
                 default_value=None, dtype=None):
        self.inputs = list(inputs or [])
        self.outputs = list(outputs or [])
        self.dict = dict or {}
        self.regex = regex
        self.default_value = default_value
        self.dtype = dtype

    def _mapped_col(self, view, input: str):
        col = view.col(input)
        if self.regex:
            out = col.cast("string")
            for pat, val in self.dict.items():
                out = F.regexp_replace(out, str(pat), str(val))
            return out
        out = None
        floating = is_floating(view.dtype(input))
        for key, val in self.dict.items():
            if _is_nan_key(key):
                cond = col.isNull() | (F.isnan(col) if floating else F.lit(False))
            else:
                cond = col == F.lit(key)
            out = F.when(cond, F.lit(val)) if out is None else out.when(cond, F.lit(val))
        return out.otherwise(col) if out is not None else col

    def column_exprs(self, view) -> dict:
        updates = {}
        for input, output in zip(self.inputs, self.outputs):
            mapped = self._mapped_col(view, input)
            if self.default_value is not None:
                values = [v for v in self.dict.values() if not _is_nan_key(v)]
                mapped = F.when(mapped.isin(values), mapped).otherwise(F.lit(self.default_value))
            if self.dtype is not None:
                mapped = mapped.cast(to_spark_type(self.dtype))
            updates[output] = mapped
        return updates

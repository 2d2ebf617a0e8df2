"""RangeTransformer — map values in (upper, lower) ranges to replacements.

Reference: /root/reference/dfpipeline/RangeTransformer.py — dict keys are
``(upper, lower)`` tuples (inclusive both ends, None = unbounded,
``(None, None)`` ignored); entries are applied *in dict order over the
original column values* with last match winning; replacement values may be
literals or the strings ``'mean' | 'median' | 'most_frequent'``, computed
**at transform time** over the *matched subset* (or the whole column when
``use_all_elements=True``).  NaN matches nothing and passes through.

Spark-first: the ``mean`` and ``median`` replacements of an input are
computed at transform time by one small aggregate over all its entries
(a float mean is correctly rounded, as Imputer's is),
and each ``most_frequent`` by a grouped count of its own (range dicts are
tiny config, 2–5 entries); the rewrite is a nested
``F.when`` chain built so that later dict entries wrap (and thus override)
earlier ones — pure codegen.  ``most_frequent`` uses max-count with
smallest-value tie-break (pandas ``value_counts().idxmax()`` order is
undefined on ties).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..base import SparkDFPBase, nan_to_null
from .imputer import statistics

class RangeTransformer(SparkDFPBase):
    def __init__(self, inputs=None, outputs=None, dict=None, use_all_elements: bool = False):
        self.inputs = list(inputs or [])
        self.outputs = list(outputs or [])
        self.dict = dict or {}
        self.use_all_elements = use_all_elements
        self.values_dict = {}  # (col, upper, lower) -> float replacement, like the reference

    @staticmethod
    def _range_cond(col: Column, upper, lower):
        if upper is None and lower is None:
            return None  # ignored entry
        cond = F.lit(True)
        if upper is not None:
            cond = cond & (col <= F.lit(upper))
        if lower is not None:
            cond = cond & (col >= F.lit(lower))
        return cond

    def _replacements(self, df: DataFrame, col: Column, entries) -> list:
        """The replacement of each ``(cond, v)`` entry: ``v``, or the
        statistic it names over the entry's subset.  Every ``mean`` and
        ``median`` comes from one aggregate (:func:`.imputer.statistics`:
        a floating mean is correctly rounded); ``most_frequent`` is the
        mode of the subset, ties → smallest value."""
        tgts = [col if self.use_all_elements else F.when(cond, col)
                for cond, _ in entries]
        kinds = [v if isinstance(v, str) else None for _, v in entries]
        means, medians, _ = map(iter, statistics(
            df, means=[t for t, k in zip(tgts, kinds) if k == "mean"],
            medians=[t for t, k in zip(tgts, kinds) if k == "median"]))
        out = []
        for t, k, (_, v) in zip(tgts, kinds, entries):
            if k in ("mean", "median"):
                v = next(means if k == "mean" else medians)
            elif k == "most_frequent":
                sub = df.select(t.alias("v")).filter(F.col("v").isNotNull())
                top = (sub.groupBy("v").count()
                       .orderBy(F.col("count").desc(), F.col("v"))
                       .limit(1).collect())
                v = top[0]["v"] if top else None
            out.append(v)
        return out

    def transform(self, df: DataFrame) -> DataFrame:
        if not self.dict:
            return df
        for input, output in zip(self.inputs, self.outputs):
            col = nan_to_null(df, input)
            ranges = [(upper, lower, self._range_cond(col, upper, lower), v)
                      for (upper, lower), v in self.dict.items()]
            ranges = [r for r in ranges if r[2] is not None]
            values = self._replacements(df, col, [r[2:] for r in ranges])
            expr = F.col(input)
            for (upper, lower, cond, _), newv in zip(ranges, values):
                try:
                    self.values_dict[(input, upper, lower)] = float(newv)
                except (TypeError, ValueError):
                    self.values_dict[(input, upper, lower)] = newv
                # Wrap the accumulated expression: later entries evaluate
                # first in the final CASE, i.e. last dict entry wins.
                expr = F.when(cond, F.lit(newv)).otherwise(expr)
            df = df.withColumn(output, expr)
        return df

"""FrequencyEncoder — replace a value with its fit-time occurrence count.

Reference: /root/reference/dfpipeline/FrequencyEncoder.py — fit stores
``value_counts(normalize=...)`` (NaN excluded, pandas default); transform
maps values through the counts, unseen/NaN → 1 (raw counts) or 0.0
(normalized).

Spark-first: fit is ``groupBy(value).count()`` (map-side partial
aggregation, one shuffle on the value); normalization divides by the
non-null total inside the same job.  The counts are a
:class:`~dataframe_pipeline_spark.base.FittedTable`, declared by
``lookups()`` (NaN-as-NULL key, unseen → the default) and applied
by :func:`~dataframe_pipeline_spark.base.join_lookups`: held on the
driver (a literal map when tiny, else a broadcast join), checkpointed
on the executors when the column has more than ``SERVING_MAX_ROWS``
distinct values (at 100 TB a counts table over e.g. a device id is far
beyond driver size), where the join strategy is left to AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..base import Lookup, SparkDFPBase, fit_table, nan_to_null


class FrequencyEncoder(SparkDFPBase):
    def __init__(self, inputs=None, outputs=None, normalize: bool = False):
        self.inputs = list(inputs or [])
        self.outputs = list(outputs or [])
        self.normalize = normalize
        self._lookups = {}  # input -> FittedTable(__dfp_val, __dfp_cnt)
        assert len(self.inputs) == len(self.outputs)

    def fit(self, df: DataFrame, **params):
        self._lookups = {}
        for input in self.inputs:
            counts = (
                df.select(nan_to_null(df, input).alias("__dfp_val"))
                .filter(F.col("__dfp_val").isNotNull())
                .groupBy("__dfp_val")
                .agg(F.count(F.lit(1)).alias("__dfp_cnt"))
            )
            if self.normalize:
                # count/total inside one plan; total is a scalar subexpression
                # Catalyst evaluates once (no second scan of df at transform).
                total = counts.agg(F.sum("__dfp_cnt").alias("t"))
                counts = counts.crossJoin(F.broadcast(total)).select(
                    "__dfp_val",
                    (F.col("__dfp_cnt") / F.col("t")).alias("__dfp_cnt"),
                )
            self._lookups[input] = fit_table(counts)
        return self

    def lookups(self) -> list:
        default = 0.0 if self.normalize else 1
        return [Lookup(c, "nan", self._lookups[c], "__dfp_val",
                       {o: "__dfp_cnt"}, default)
                for c, o in zip(self.inputs, self.outputs)]

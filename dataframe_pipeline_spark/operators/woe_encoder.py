"""WOEEncoder — weight-of-evidence categorical encoding.

The credit-scoring / risk-modeling encoder: each category becomes the
log-odds of the binary target within it, relative to the global odds —

    woe(c) = ln( (pos_c + a) / (pos_total + 2a)
               / ((neg_c + a) / (neg_total + 2a)) )

with additive smoothing ``a`` (Laplace) so rare categories shrink
toward 0 instead of exploding to ±inf.  Positive WOE = the category
over-indexes on the positive class.

Spark-first: fit is ONE groupBy over every input column stacked
(:func:`~dataframe_pipeline_spark.base.stack_inputs`); the two global
scalars are re-summed from that fitted table, and the (category → woe)
arithmetic runs in Spark over it (no driver math beyond the two
scalars).  Each input's table is a
:class:`~dataframe_pipeline_spark.base.FittedTable` declared by
``lookups()`` (NaN-as-NULL key, unseen/NULL categories → 0.0, no
evidence); transform is
:func:`~dataframe_pipeline_spark.base.join_lookups` (a literal map
when tiny, else a left join per column, broadcast when held).  Same
lookup discipline as TargetEncoder / FrequencyEncoder; the serving
tier looks the held table up on the driver, so a WOE-containing
pipeline keeps the job-free LocalRelation fold online.

Reference parity: the reference has no WOE surface; this extends the
encoder family the same way TargetEncoder does (beyond-reference,
driver-requested training-pipeline tier).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..base import (STACK_COL, Lookup, SparkDFPBase, fit_table,
                    nan_to_null, stack_inputs, unstack)


class WOEEncoder(SparkDFPBase):
    def __init__(self, inputs=None, outputs=None, target: str = None,
                 alpha: float = 0.5):
        if not target:
            raise ValueError("target column is required")
        if alpha < 0:
            raise ValueError("alpha must be >= 0")
        self.inputs = list(inputs or [])
        self.outputs = list(outputs or [])
        self.target = target
        self.alpha = float(alpha)
        self.lookups_ = []      # per input: FittedTable(__cat, __woe)
        self.totals_ = None     # (pos_total, neg_total)

    def fit(self, df: DataFrame, **params):
        y = F.col(self.target).cast("double")
        a = F.lit(self.alpha)
        self.lookups_ = []
        if not self.inputs:
            row = df.agg(F.sum(y).alias("p"),
                         F.count(y).alias("n")).collect()[0]
            pos_t = float(row["p"] or 0.0)
            self.totals_ = (pos_t, float(row["n"]) - pos_t)
            return self
        # ONE scan for every input: NULL/NaN categories stay in the
        # grouped aggregate so the global totals re-sum from the fitted
        # table (read off input 0)
        k = len(self.inputs)
        keys = [f"__dfp_k{j}" for j in range(k)]
        stats = fit_table(
            stack_inputs(df, [nan_to_null(df, c) for c in self.inputs],
                         __y=y)
            .groupBy(STACK_COL, *keys)
            .agg(F.sum("__y").alias("__pos"), F.count("__y").alias("__n")))
        first = F.col(STACK_COL) == 0
        row = stats.df.agg(
            F.sum(F.when(first, F.col("__pos"))).alias("p"),
            F.sum(F.when(first, F.col("__n"))).alias("n")).collect()[0]
        pos_t = float(row["p"] or 0.0)
        neg_t = float(row["n"] or 0) - pos_t
        self.totals_ = (pos_t, neg_t)
        woe = fit_table(stats.df.select(
            STACK_COL, *keys,
            F.log(((F.col("__pos") + a) / F.lit(pos_t + 2 * self.alpha))
                  / ((F.col("__n") - F.col("__pos") + a)
                     / F.lit(neg_t + 2 * self.alpha))).alias("__woe")))
        stats.release()
        self.lookups_ = unstack(woe, k, "__cat", ["__woe"])
        return self

    def lookups(self) -> list:
        if self.totals_ is None:
            raise RuntimeError("WOEEncoder.transform before fit")
        return [Lookup(c, "nan", table, "__cat", {o: "__woe"}, 0.0)
                for c, o, table in zip(self.inputs, self.outputs,
                                       self.lookups_)]

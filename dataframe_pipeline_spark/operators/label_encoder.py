"""ComplementLabelEncoder — string→int encoding with a reserved unseen class.

Reference: /root/reference/dfpipeline/ComplementLabelEncoder.py — fit maps
NaN to the literal ``'extra_category_'``, stringifies, learns sklearn
LabelEncoder classes (lexicographically sorted), always appends
``'extra_category_'`` if absent; transform fills NaN with the reserved
class, maps values through the fitted dict, and unseen values get the
reserved class's id; output dtype int32.

Spark-first design: ``fit`` is ONE distinct aggregate over every input
column (:func:`~dataframe_pipeline_spark.base.stack_inputs`), collected
once.  The dictionary of each column is its sorted distinct values plus
``'extra_category_'``, ranked on the driver: Spark orders strings by
their UTF-8 bytes and Python by code point, and the two orders agree,
so the ids are the ones sklearn's ``LabelEncoder`` and a Spark window
would give.  The dictionary is held as a ``(value, id)``
:class:`~dataframe_pipeline_spark.base.FittedTable`; ``lookups()``
declares it keyed on the normalized value (``lookup_key`` norm
``"string"``) with the ``extra_category_`` id for a miss, and transform
is :func:`~dataframe_pipeline_spark.base.join_lookups` (a literal
map when tiny, else a broadcast left join).  When the distinct values
exceed ``SERVING_MAX_ROWS``, the distinct set is checkpointed on the
executors instead and ranked there by a window partitioned by column
(cardinality ≪ rows, so not a scale bottleneck), and the ranked table
is checkpointed in turn; its join carries no hint and AQE picks the
strategy.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..base import (EXTRA, PARM_ALL, STACK_COL, ColumnView, FittedTable,
                    Lookup, SparkDFPBase, fit_table, literal_df, lookup_key,
                    stack_inputs, tracked_checkpoint, unstack)


class ComplementLabelEncoder(SparkDFPBase):
    def __init__(self, inputs=PARM_ALL, outputs=PARM_ALL):
        self.inputs = inputs
        self.outputs = outputs
        # input col -> (FittedTable(__dfp_val, __dfp_id), default_id, cardinality)
        self._lookups = {}

    def fit(self, df: DataFrame, **params):
        """All input columns are fitted by ONE distinct aggregate over
        the stacked (column, normalized value) rows.  The reference fits
        one sklearn encoder per column in a Python loop
        (ComplementLabelEncoder.py:49-66); at N columns that shape costs
        N full scans, this costs one."""
        self.inputs = self.replace_PARM_ALL(df, self.inputs)
        self.outputs = self.replace_PARM_ALL(df, self.outputs)
        view = ColumnView(df)
        keys = [lookup_key(view, c, "string") for c in self.inputs]
        values = fit_table(stack_inputs(df, keys).distinct())
        if values.held:
            self._lookups = self._rank_held(df.sparkSession, values)
        else:
            self._lookups = self._rank_large(df.sparkSession, values)
        return self

    def _rank_held(self, spark, values: FittedTable) -> dict:
        lookups = {}
        for input, t in zip(self.inputs, unstack(values, len(self.inputs),
                                                 "__dfp_val")):
            vals = sorted(set(t.arrow["__dfp_val"].to_pylist()) | {EXTRA})
            table = pa.table({
                "__dfp_val": pa.array(vals, pa.string()),
                "__dfp_id": pa.array(range(len(vals)), pa.int32())})
            lookups[input] = (FittedTable(spark, arrow=table),
                              vals.index(EXTRA), len(vals))
        return lookups

    def _rank_large(self, spark, values: FittedTable) -> dict:
        k = len(self.inputs)
        vals = values.df.select(STACK_COL, F.coalesce(*[
            F.col(f"__dfp_k{j}") for j in range(k)]).alias("__dfp_val"))
        # JVM-native literal (see base.literal_df): a python-RDD frame
        # here costs seconds per re-evaluation inside the broadcast.
        extras = literal_df(spark, range(k), STACK_COL, "int").withColumn(
            "__dfp_val", F.lit(EXTRA))
        w = Window.partitionBy(STACK_COL).orderBy("__dfp_val")
        ranked, ids = tracked_checkpoint(
            vals.union(extras).distinct()
            .select(STACK_COL, "__dfp_val",
                    (F.row_number().over(w) - 1).cast("int").alias("__dfp_id")))
        values.release()
        # ONE collect returns both the reserved-class id and the
        # dictionary cardinality per column
        stats = {r[STACK_COL]: (r["__dfp_default"], r["__dfp_n"])
                 for r in ranked.groupBy(STACK_COL).agg(
                     F.max(F.when(F.col("__dfp_val") == EXTRA,
                                  F.col("__dfp_id"))).alias("__dfp_default"),
                     F.count(F.lit(1)).alias("__dfp_n")).collect()}
        lookups = {}
        for i, input in enumerate(self.inputs):
            table = (ranked.filter(F.col(STACK_COL) == i)
                     .select("__dfp_val", "__dfp_id"))
            lookups[input] = (FittedTable(spark, df=table, ids=ids),
                              *stats[i])
        return lookups

    def lookups(self) -> list:
        return [Lookup(c, "string", self._lookups[c][0], "__dfp_val",
                       {o: "__dfp_id"}, self._lookups[c][1])
                for c, o in zip(self.inputs, self.outputs)]

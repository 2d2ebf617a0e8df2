"""ComplementLabelEncoder — string→int encoding with a reserved unseen class.

Reference: /root/reference/dfpipeline/ComplementLabelEncoder.py — fit maps
NaN to the literal ``'extra_category_'``, stringifies, learns sklearn
LabelEncoder classes (lexicographically sorted), always appends
``'extra_category_'`` if absent; transform fills NaN with the reserved
class, maps values through the fitted dict, and unseen values get the
reserved class's id; output dtype int32.

Spark-first design: the fitted dictionary is a *lookup DataFrame*
``(value, id)`` built distributedly:

    distinct(normalized value) ∪ {'extra_category_'}  →  sort  →  row_number-1

The global-order ``row_number`` window runs over the **distinct set only**
(cardinality ≪ rows), so the single-partition window is not a scale
bottleneck.  Transform is a left join on the normalized value with
``coalesce(id, default_id)``.  The broadcast hint is *size-gated*: fit
already knows each column's distinct count (it comes back in the same
collect as the default id), so transform hints ``broadcast`` only when
the dictionary is under ``broadcast_max_rows`` (default 500k entries —
roughly the autoBroadcastJoinThreshold at ~20 B/entry); above that it
emits a plain join and lets AQE pick the strategy.  A high-cardinality
dictionary (e.g. a card1_addr1-style composite) must never be forced
into executor/driver memory.  No driver-side dict is ever materialized
except the per-column (cardinality, reserved-class id) scalars.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..base import (PARM_ALL, ColumnView, SparkDFPBase, is_floating,
                    literal_df)

EXTRA = "extra_category_"


class ComplementLabelEncoder(SparkDFPBase):
    #: dictionaries with at most this many entries get a broadcast hint;
    #: larger ones go through a plain (AQE-planned) shuffle join.
    BROADCAST_MAX_ROWS = 500_000

    def __init__(self, inputs=PARM_ALL, outputs=PARM_ALL,
                 broadcast_max_rows: int | None = None):
        self.inputs = inputs
        self.outputs = outputs
        self.broadcast_max_rows = (
            self.BROADCAST_MAX_ROWS if broadcast_max_rows is None
            else broadcast_max_rows)
        # input col -> (lookup DataFrame(__dfp_val, __dfp_id), default_id, cardinality)
        self._lookups = {}

    @staticmethod
    def _normalized(df, input: str):
        """The dictionary key of ``input``: its string cast, NULL/NaN as
        the reserved class.  ``df``: a DataFrame or a ``ColumnView``."""
        view = ColumnView(df) if isinstance(df, DataFrame) else df
        col = view.col(input)
        s = col.cast("string")
        if is_floating(view.dtype(input)):
            s = F.when(F.isnan(col), F.lit(None)).otherwise(s)
        return F.coalesce(s, F.lit(EXTRA))

    def fit(self, df: DataFrame, **params):
        """All input columns are fitted in ONE Spark job: the normalized
        values are stacked as (col, val) rows, de-duplicated together,
        and ranked per column with a partitioned window (parallel across
        columns — no single-partition global window).  The reference
        fits one sklearn encoder per column in a Python loop
        (ComplementLabelEncoder.py:49-66); at N columns that shape costs
        N full scans, this costs one."""
        self.inputs = self.replace_PARM_ALL(df, self.inputs)
        self.outputs = self.replace_PARM_ALL(df, self.outputs)
        self._lookups = {}
        spark = df.sparkSession
        if len(self.inputs) == 1:
            # single column: the 1-element explode(array(struct)) wrapper
            # defeats codegen's dictionary fast path — a bare distinct on
            # the normalized column is the same rows (A/B sf0.1: 0.62 →
            # 0.42 s fit job)
            only = self.inputs[0]
            stacked = (df.select(self._normalized(df, only)
                                 .alias("__dfp_val")).distinct()
                       .select(F.lit(only).alias("__dfp_col"), "__dfp_val"))
        else:
            stacked = df.select(F.explode(F.array(*[
                F.struct(F.lit(c).alias("__dfp_col"),
                         self._normalized(df, c).alias("__dfp_val"))
                for c in self.inputs
            ])).alias("s")).select("s.__dfp_col", "s.__dfp_val").distinct()
        # JVM-native literal (see base.literal_df): a python-RDD one-row
        # frame here costs seconds per re-evaluation inside the broadcast.
        extras = literal_df(spark, list(self.inputs), "__dfp_col").withColumn(
            "__dfp_val", F.lit(EXTRA))
        w = Window.partitionBy("__dfp_col").orderBy("__dfp_val")
        # persist: the default-id collect below materializes the cache, so
        # transform-time broadcasts reuse it instead of re-running the job.
        lookup_all = (
            stacked.union(extras).distinct()
            .select("__dfp_col", "__dfp_val",
                    (F.row_number().over(w) - 1).cast("int").alias("__dfp_id"))
            .persist()
        )
        # ONE collect returns both the reserved-class id and the dictionary
        # cardinality per column; the cardinality gates the transform-time
        # broadcast hint (see module docstring).
        rows = lookup_all.groupBy("__dfp_col").agg(
            F.max(F.when(F.col("__dfp_val") == EXTRA,
                         F.col("__dfp_id"))).alias("__dfp_default"),
            F.count(F.lit(1)).alias("__dfp_n"),
        ).collect()
        stats = {
            r["__dfp_col"]: (r["__dfp_default"], r["__dfp_n"]) for r in rows
        }
        for input in self.inputs:
            lookup = (lookup_all.filter(F.col("__dfp_col") == input)
                      .select("__dfp_val", "__dfp_id"))
            default_id, n = stats[input]
            self._lookups[input] = (lookup, default_id, n)
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        for input, output in zip(self.inputs, self.outputs):
            lookup, default_id, n = self._lookups[input]
            if n <= self.broadcast_max_rows:
                lookup = F.broadcast(lookup)
            key = self._normalized(df, input).alias("__dfp_join_key")
            df = (
                df.join(
                    lookup, on=key == lookup["__dfp_val"], how="left"
                )
                .withColumn(
                    output,
                    F.coalesce(F.col("__dfp_id"), F.lit(default_id)).cast("int"),
                )
                .drop("__dfp_val", "__dfp_id")
            )
        return df

"""TargetEncoder — smoothed mean-target encoding; HashingEncoder —
the feature-hashing trick.  The two high-cardinality categorical
encoders the reference's label/frequency/one-hot family lacks.

TargetEncoder (sklearn ``TargetEncoder`` / CatBoost-style smoothing):
``code(c) = (n_c * mean_c + m * global_mean) / (n_c + m)`` — categories
with few observations shrink toward the global mean (``m`` is the
smoothing pseudo-count).  Fit is ONE grouped aggregate (count + sum
per category, both partial-aggregatable) over every input stacked
(:func:`~dataframe_pipeline_spark.base.stack_inputs`), so a fit runs
the same jobs for one input or many; the global mean and the codes are
computed from that fitted table, not from the training data.  Each
input's codes are a :class:`~dataframe_pipeline_spark.base.FittedTable`
declared by ``lookups()`` (raw key, miss → the global mean) and applied
by :func:`~dataframe_pipeline_spark.base.join_lookups` — held on the
driver (a literal map when tiny, else a broadcast join); at 100 TB a
hundred-million-row category table is checkpointed and its join left
to AQE.  Unseen categories and NULL get the global mean (sklearn's
unseen behavior).

HashingEncoder: ``bucket(c) = md5_int(c) % n_buckets`` — stateless
(nothing to fit, nothing to ship), collision-accepting, map-only.
The standard trick when the category space is unbounded (URLs, user
agents): no vocabulary pass, no unseen-category problem, bounded
output dimensionality.  md5 (not xxhash) so the bucket ids are
engine-portable and oracle-replayable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..base import (STACK_COL, Lookup, SparkDFPBase, fit_table,
                    stack_inputs, unstack)


class TargetEncoder(SparkDFPBase):
    def __init__(self, inputs=None, outputs=None, target: str = None,
                 smoothing: float = 20.0):
        if not target:
            raise ValueError("target column is required")
        if smoothing < 0:
            raise ValueError("smoothing must be >= 0")
        self.inputs = list(inputs or [])
        self.outputs = list(outputs or [])
        self.target = target
        self.smoothing = float(smoothing)
        self.global_mean_ = None
        self.lookups_ = []          # per input: FittedTable(__cat, __code)

    def fit(self, df: DataFrame, **params):
        t = F.col(self.target).cast("double")
        m = F.lit(self.smoothing)
        self.lookups_ = []
        if not self.inputs:
            self.global_mean_ = df.agg(F.avg(t)).collect()[0][0]
            return self
        # ONE scan for every input: NULL categories are kept in the
        # grouped aggregate so the global mean falls out of the same
        # pass (sum of sums / sum of counts == avg, read off input 0)
        k = len(self.inputs)
        keys = [f"__dfp_k{j}" for j in range(k)]
        stats = fit_table(
            stack_inputs(df, [F.col(c) for c in self.inputs], __t=t)
            .groupBy(STACK_COL, *keys)
            .agg(F.count("__t").alias("__n"), F.sum("__t").alias("__s")))
        # ONE collect over the fitted stats: the global-mean sums
        first = F.col(STACK_COL) == 0
        tot = stats.df.agg(
            F.sum(F.when(first, F.col("__n"))).alias("n"),
            F.sum(F.when(first, F.col("__s"))).alias("s")).collect()[0]
        self.global_mean_ = (float(tot["s"]) / float(tot["n"])
                             if tot["n"] else None)
        g = F.lit(self.global_mean_)
        mean = F.col("__s") / F.col("__n")
        codes = fit_table(stats.df.select(STACK_COL, *keys,
                                  ((F.col("__n") * mean + m * g)
                                   / (F.col("__n") + m)).alias("__code")))
        stats.release()
        self.lookups_ = unstack(codes, k, "__cat", ["__code"])
        return self

    def lookups(self) -> list:
        if self.global_mean_ is None:
            raise RuntimeError("TargetEncoder.transform before fit")
        return [Lookup(c, "raw", table, "__cat", {o: "__code"},
                       self.global_mean_)
                for c, o, table in zip(self.inputs, self.outputs,
                                       self.lookups_)]


class CVTargetEncoder(SparkDFPBase):
    """Leakage-free (out-of-fold) target encoding for TRAINING frames.

    Plain target encoding leaks: a row's own target contributes to the
    code it is trained on, and the model memorizes the leak.  The
    standard fix is K-fold out-of-fold encoding — each row receives
    the smoothed mean computed from every fold EXCEPT its own.

    Spark-first shape: folds are content-addressed (``md5(fold_key) %
    cv_folds`` — deterministic, partition-independent, same construct
    as :func:`sources.kfold_assign`), and the out-of-fold statistics
    come from complement arithmetic, NOT K separate fits: one grouped
    aggregate produces per-(category, fold) (count, sum), a
    re-aggregation of that tiny frame gives per-category totals, and
    ``oof = (total - fold) / (n_total - n_fold)`` — one scan of the
    data regardless of K.  The code table keyed by (category, fold)
    applies by a join on the same key pair (its
    :attr:`~dataframe_pipeline_spark.base.FittedTable.join_view`:
    broadcast when held).

    A category seen ONLY in a row's own fold has no out-of-fold
    evidence → global mean (the unseen-category rule applied at fold
    granularity).  Serving/inference frames have no fold and no
    target: encode them with the plain :class:`TargetEncoder` fitted
    on the full training set — the pair (CV for train, plain for
    serve) is the standard deployment.
    """

    def __init__(self, inputs=None, outputs=None, target: str = None,
                 fold_key: str = None, cv_folds: int = 5,
                 smoothing: float = 20.0):
        if not target:
            raise ValueError("target column is required")
        if not fold_key:
            raise ValueError("fold_key column is required "
                             "(use a stable row/group id)")
        if cv_folds < 2:
            raise ValueError("cv_folds must be >= 2")
        if smoothing < 0:
            raise ValueError("smoothing must be >= 0")
        self.inputs = list(inputs or [])
        self.outputs = list(outputs or [])
        self.target = target
        self.fold_key = fold_key
        self.cv_folds = int(cv_folds)
        self.smoothing = float(smoothing)
        self.global_mean_ = None
        self.lookups_ = []          # per input: FittedTable(__cat, __fold, __code)

    def _fold_col(self):
        h = F.conv(F.substring(F.md5(F.col(self.fold_key).cast("string")),
                               1, 8), 16, 10).cast("bigint")
        return F.pmod(h, F.lit(self.cv_folds)).cast("int")

    def fit(self, df: DataFrame, **params):
        t = F.col(self.target).cast("double")
        m = F.lit(self.smoothing)
        self.lookups_ = []
        if not self.inputs:
            self.global_mean_ = df.agg(F.avg(t)).collect()[0][0]
            return self
        for i, c in enumerate(self.inputs):
            # ONE scan per column: NULL categories ride the (cat, fold)
            # aggregate so the global mean is a re-sum of the fitted
            # tiny table, and the complement arithmetic reads that
            # table instead of re-scanning the training data.
            stats = fit_table(
                df.groupBy(F.col(c).alias("__cat"),
                           self._fold_col().alias("__fold"))
                .agg(F.count(t).alias("__nf"), F.sum(t).alias("__sf")))
            pf_all = stats.df
            if i == 0:
                trow = pf_all.agg(F.sum("__nf").alias("n"),
                                  F.sum("__sf").alias("s")).collect()[0]
                self.global_mean_ = (float(trow["s"]) / float(trow["n"])
                                     if trow["n"] else None)
            g = F.lit(self.global_mean_)
            pf = pf_all.filter(F.col("__cat").isNotNull())
            tot = (pf.groupBy("__cat")
                   .agg(F.sum("__nf").alias("__n"), F.sum("__sf").alias("__s")))
            oof_n = F.col("__n") - F.col("__nf")
            oof_mean = (F.col("__s") - F.col("__sf")) / oof_n
            code = F.when(oof_n > 0,
                          (oof_n * oof_mean + m * g) / (oof_n + m)
                          ).otherwise(g)
            self.lookups_.append(fit_table(
                pf.join(tot, "__cat")
                .select("__cat", "__fold", code.alias("__code"))))
            stats.release()
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        if self.global_mean_ is None:
            raise RuntimeError("CVTargetEncoder.transform before fit")
        out = df.withColumn("__dfp_fold", self._fold_col())
        for c, o, lk in zip(self.inputs, self.outputs, self.lookups_):
            out = (out.join(lk.join_view,
                            (F.col(c) == F.col("__cat"))
                            & (F.col("__dfp_fold") == F.col("__fold")),
                            "left")
                   .withColumn(o, F.coalesce(F.col("__code"),
                                             F.lit(self.global_mean_)))
                   .drop("__cat", "__fold", "__code"))
        return out.drop("__dfp_fold")


class HashingEncoder(SparkDFPBase):
    """Stateless feature hashing: ``md5_int(value) % n_buckets``.
    NULL maps to bucket NULL (missing stays missing)."""

    def __init__(self, inputs=None, outputs=None, n_buckets: int = 1024):
        if n_buckets < 2:
            raise ValueError("n_buckets must be >= 2")
        self.inputs = list(inputs or [])
        self.outputs = list(outputs or [])
        self.n_buckets = int(n_buckets)

    def column_exprs(self, view) -> dict:
        updates = {}
        for c, o in zip(self.inputs, self.outputs):
            col = view.col(c)
            h = F.conv(F.substring(F.md5(col.cast("string")), 1, 8),
                       16, 10).cast("bigint")
            updates[o] = F.when(col.isNull(), None).otherwise(
                F.pmod(h, F.lit(self.n_buckets)).cast("int"))
        return updates

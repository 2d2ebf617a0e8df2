"""Imputer — fill missing values with const / mean / median.

Reference: /root/reference/dfpipeline/Imputer.py.  CRITICAL reference
quirk (SURVEY §2 quirk 1): mean/median are computed **at transform time**
on the frame being transformed — scoring a test batch re-computes the
statistic on that batch.  We replicate that (stats as transform-time
aggregates), because the correctness oracle checks it.

Parity notes:
- pandas ``median()`` interpolates on even counts → Spark's exact
  ``percentile(c, 0.5)`` (NOT percentile_approx).
- pandas mean/median skip NaN → NULL-normalize first.
- ``fillna`` replaces both NaN and None → fill with ``coalesce`` over the
  NULL-normalized column.

The per-transform statistics are aggregated while the plan is built; at
scale this is the price of the reference's per-batch semantics.  A
median is one ``df.agg`` of exact ``percentile(c, 0.5)`` over all inputs.
A float/double mean is the correctly rounded mean (``_exact_means``):
Spark's ``avg`` sums doubles in partition order, so under cancellation
it depends on the partitioning (``[0.0, 0.5, -0.5, 2**-149]`` averages
to 0.0 or to 2**-151).  Integral and decimal columns keep ``avg``, whose
sum is already exact.
``percentile`` holds each partition's values in executor memory, so a
median fill over many millions of rows is slow (SCALE.md §Round 7), but
it is exact.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..base import ColumnView, SparkDFPBase, is_floating, nan_to_null

_INF = float("inf")


class Imputer(SparkDFPBase):
    def __init__(self, inputs=None, outputs=None, strategy=None, val=-1):
        self.inputs = list(inputs or [])
        self.outputs = list(outputs or [])
        if strategy not in (None, "mean", "median"):
            raise ValueError(f"Unknown strategy {strategy!r}")
        self.strategy = strategy
        self.val = val
        self.values = None  # last-computed fill values (reference keeps them too)

    def _fill_exprs(self, view, fills) -> dict:
        return {output: F.coalesce(view.nan_to_null(input), F.lit(v))
                for input, output, v in zip(self.inputs, self.outputs, fills)}

    def column_exprs(self, view):
        """Constant fills only: mean/median are statistics of the frame
        being transformed."""
        if self.strategy is not None:
            return None
        return self._fill_exprs(view, [self.val] * len(self.inputs))

    def transform(self, df: DataFrame) -> DataFrame:
        if self.strategy is None:
            fills = [self.val] * len(self.inputs)
        elif self.strategy == "median":
            fills = list(df.agg(*[
                F.percentile(nan_to_null(df, c), F.lit(0.5)).alias(f"v{i}")
                for i, c in enumerate(self.inputs)]).collect()[0])
        else:
            view = ColumnView(df)
            floats = [c for c in self.inputs if is_floating(view.dtype(c))]
            means = _exact_means(df, floats) if floats else {}
            rest = [c for c in self.inputs if c not in means]
            if rest:
                row = df.agg(*[F.mean(view.col(c)).alias(f"v{i}")
                               for i, c in enumerate(rest)]).collect()[0]
                means.update(zip(rest, row))
            fills = [means[c] for c in self.inputs]
        self.values = fills
        return df.withColumns(self._fill_exprs(ColumnView(df), fills))


def _exact_means(df: DataFrame, cols: list) -> dict:
    """Correctly rounded mean of each floating column, NULL and NaN skipped.

    Each finite non-zero ``x`` is split exactly into an integer ``m`` and a
    scale ``k`` with ``x == m / 2**k``: ``k = 53 - floor(log2|x|)`` makes
    ``m`` an integer below ``2**55`` even when ``log2`` is off by one near
    a power of two.  ``x`` is scaled by ``2**(k//2)`` then ``2**(k - k//2)``
    (``2**k`` alone overflows for ``k > 1023``), each product exact.  One grouped aggregation sums ``m`` per
    (column, ``k``) as ``decimal(20,0)``, exact in any order; the driver
    adds the few groups as fractions and divides once.  A column holding
    ``inf`` and ``-inf`` averages to NaN and one holding either to that
    infinity, as ``avg`` does; an empty column to NULL.
    """
    view = ColumnView(df)
    cells = F.explode(F.array(*[
        F.struct(F.lit(i).alias("i"),
                 view.nan_to_null(c).cast("double").alias("x"))
        for i, c in enumerate(cols)]))
    x = F.col("x")
    finite = (x != 0) & (F.abs(x) != _INF)
    k = F.when(finite, 53 - F.floor(F.log2(F.abs(x))))
    half = F.shiftright(F.col("k"), 1)
    m = x * F.pow(F.lit(2.0), half) * F.pow(F.lit(2.0), F.col("k") - half)
    rows = (df.select(cells.alias("s")).select("s.i", "s.x")
            .where(x.isNotNull()).withColumn("k", k)
            .groupBy("i", "k")
            .agg(F.sum(F.when(finite, m.cast("long").cast("decimal(20,0)")))
                 .alias("m"),
                 F.count("*").alias("n"),
                 F.count(F.when(x == _INF, 1)).alias("pos"),
                 F.count(F.when(x == -_INF, 1)).alias("neg"))
            .collect())
    sums = [Fraction(0)] * len(cols)
    counts, pos, neg = ([0] * len(cols) for _ in range(3))
    for r in rows:
        counts[r.i] += r.n
        pos[r.i] += r.pos
        neg[r.i] += r.neg
        if r.k is not None:
            sums[r.i] += Fraction(int(r.m)) * Fraction(2) ** -r.k
    means = {}
    for i, c in enumerate(cols):
        if pos[i] and neg[i]:
            means[c] = float("nan")
        elif pos[i] or neg[i]:
            means[c] = _INF if pos[i] else -_INF
        else:
            means[c] = float(sums[i] / counts[i]) if counts[i] else None
    return means

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
A float/double mean is the correctly rounded mean (:func:`statistics`):
Spark's ``avg`` sums doubles in partition order, so under cancellation
it depends on the partitioning (``[0.0, 0.5, -0.5, 2**-149]`` averages
to 0.0 or to 2**-151).  Integral columns join that aggregate when it
runs; alone, integral and decimal columns keep ``avg``, whose sum is
already exact.
``percentile`` holds each partition's values in executor memory, so a
median fill over many millions of rows is slow (SCALE.md §Round 7), but
it is exact.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

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
            return super().transform(df)
        exprs = [nan_to_null(df, c) for c in self.inputs]
        if self.strategy == "mean":
            self.values = statistics(df, means=exprs)[0]
        else:
            self.values = statistics(df, medians=exprs)[1]
        return df.withColumns(self._fill_exprs(ColumnView(df), self.values))


def statistics(df: DataFrame, means=(), medians=(),
               stddevs=()) -> tuple[list, list, list]:
    """The mean of each of ``means``, the exact ``percentile(x, 0.5)`` of
    each of ``medians`` and the ``stddev_pop`` of each of ``stddevs``
    (expressions over ``df``; NULL skipped, callers map NaN to NULL), in
    one aggregate.  A floating mean is correctly rounded
    (:func:`_exact_means`, whose grouped aggregate then computes every
    other statistic too, an integral mean correctly rounded as well); a
    mean of integral or decimal columns alone is Spark's ``avg``, whose
    sum is exact."""
    dtypes = ([f.dataType for f in df.select(*means).schema]
              if means else [])
    grouped = any(map(is_floating, dtypes))
    exact = [grouped and not isinstance(t, DecimalType) for t in dtypes]
    aggs = [F.mean(e) for e, ex in zip(means, exact) if not ex]
    got = None      # the medians and deviations of the grouped aggregate
    if grouped:
        got = _exact_means(df, [e for e, ex in zip(means, exact) if ex],
                           medians, stddevs)
    else:
        aggs += [F.percentile(e, F.lit(0.5)) for e in medians]
        aggs += [F.stddev_pop(e) for e in stddevs]
    row = iter(df.agg(*[a.alias(f"v{i}") for i, a in enumerate(aggs)])
               .collect()[0] if aggs else ())
    plain = iter([next(row) for ex in exact if not ex])
    if got is None:
        got = ([], [next(row) for _ in medians], list(row))
    grouped_means = iter(got[0])
    return ([next(grouped_means if ex else plain) for ex in exact],
            got[1], got[2])


def _exact_means(df: DataFrame, exprs: list, medians=(),
                 stddevs=()) -> tuple[list, list, list]:
    """Correctly rounded mean of each of ``exprs`` (cast to double; NULL
    skipped), and the exact median of each of ``medians`` and the
    ``stddev_pop`` of each of ``stddevs`` from the same aggregate, each
    of those expressions' cells a group of their own (``k`` NULL).

    Each finite non-zero ``x`` is split exactly into an integer ``m`` and a
    scale ``k`` with ``x == m / 2**k``: ``k = 53 - floor(log2|x|)`` makes
    ``m`` an integer below ``2**55`` even when ``log2`` is off by one near
    a power of two.  ``x`` is scaled by ``2**(k//2)`` then ``2**(k - k//2)``
    (``2**k`` alone overflows for ``k > 1023``), each product exact.  One grouped aggregation sums ``m`` per
    (expression, ``k``) as ``decimal(20,0)``, exact in any order; the driver
    adds the few groups as fractions and divides once.  An expression
    holding ``inf`` and ``-inf`` averages to NaN and one holding either to
    that infinity, as ``avg`` does; an empty one to NULL.
    """
    n, n_med = len(exprs), len(medians)
    cells = F.explode(F.array(*[
        F.struct(F.lit(i).alias("i"), e.cast("double").alias("x"))
        for i, e in enumerate([*exprs, *medians, *stddevs])]))
    i, x = F.col("i"), F.col("x")
    finite = (i < n) & (x != 0) & (F.abs(x) != _INF)
    k = F.when(finite, 53 - F.floor(F.log2(F.abs(x))))
    half = F.shiftright(F.col("k"), 1)
    m = x * F.pow(F.lit(2.0), half) * F.pow(F.lit(2.0), F.col("k") - half)
    aggs = [F.sum(F.when(finite, m.cast("long").cast("decimal(20,0)")))
            .alias("m"),
            F.count("*").alias("n"),
            F.count(F.when(x == _INF, 1)).alias("pos"),
            F.count(F.when(x == -_INF, 1)).alias("neg")]
    if medians:
        aggs.append(F.percentile(F.when((i >= n) & (i < n + n_med), x),
                                 F.lit(0.5)).alias("p"))
    if stddevs:
        aggs.append(F.stddev_pop(F.when(i >= n + n_med, x)).alias("sd"))
    rows = (df.select(cells.alias("s")).select("s.i", "s.x")
            .where(x.isNotNull()).withColumn("k", k)
            .groupBy("i", "k").agg(*aggs).collect())
    sums = [Fraction(0)] * n
    counts, pos, neg = ([0] * n for _ in range(3))
    out_medians = [None] * n_med
    out_stddevs = [None] * len(stddevs)
    for r in rows:
        if r.i >= n + n_med:
            out_stddevs[r.i - n - n_med] = r.sd
            continue
        if r.i >= n:
            out_medians[r.i - n] = r.p
            continue
        counts[r.i] += r.n
        pos[r.i] += r.pos
        neg[r.i] += r.neg
        if r.k is not None:
            sums[r.i] += Fraction(int(r.m)) * Fraction(2) ** -r.k
    means = []
    for i in range(n):
        if pos[i] and neg[i]:
            means.append(float("nan"))
        elif pos[i] or neg[i]:
            means.append(_INF if pos[i] else -_INF)
        else:
            means.append(float(sums[i] / counts[i]) if counts[i] else None)
    return means, out_medians, out_stddevs

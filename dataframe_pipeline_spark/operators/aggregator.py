"""Aggregator — global or grouped aggregate, learned at fit, replayed at transform.

Reference: /root/reference/dfpipeline/Aggregator.py (fit computes either a
scalar per input column, or a groupkey→aggregate dict per (input, groupby)
pair; transform writes the scalar as a constant column or maps the group
key through the dict, unseen key → NaN).

Spark-first design:
- **global**: one aggregate at fit (a single scan computes every
  requested scalar; means come from Imputer's
  :func:`~dataframe_pipeline_spark.operators.imputer.statistics`, so a
  floating mean is correctly rounded); transform adds ``F.lit(scalar)``
  columns — constant-folded by Catalyst, zero runtime cost.
- **grouped**: fit builds one lookup table per distinct group key via
  ``groupBy(g).agg(...)`` — inputs sharing a group key are fused into one
  aggregate (one shuffle, map-side partial aggregation) — and keeps it as
  a :class:`~dataframe_pipeline_spark.base.FittedTable`: held on the
  driver up to ``SERVING_MAX_ROWS`` keys, checkpointed on the executors
  above (at 100 TB a table over a high-cardinality key can be GBs).
  ``lookups()`` declares one join per group key and transform applies
  them with :func:`~dataframe_pipeline_spark.base.join_lookups`
  (a literal map when tiny, broadcast when held, AQE's choice when
  checkpointed); unseen keys null out, as in a left join, matching
  the reference's pandas ``.map`` miss → NaN.

Aggregate functions: pandas-compatible names.  ``'std'``/``'var'`` are
sample (ddof=1) like pandas; ``np.std`` is population like numpy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..base import Lookup, SparkDFPBase, fit_table, nan_to_null
from .imputer import statistics


def _resolve_func(func):
    name = func if isinstance(func, str) else getattr(func, "__name__", None)
    table = {
        "mean": F.mean,
        "avg": F.mean,
        "average": F.mean,
        "std": F.stddev_samp,
        "stddev": F.stddev_samp,
        "var": F.var_samp,
        "sum": F.sum,
        "min": F.min,
        "max": F.max,
        "count": F.count,
        "median": lambda c: F.percentile(c, F.lit(0.5)),
        "nunique": F.count_distinct,
        "first": F.first,
        "last": F.last,
        # sketch tier — the 100 TB versions of nunique/median: HLL++ and
        # KLL-style partial aggregates with bounded per-group memory and
        # full map-side combine, where the exact forms either shuffle
        # every distinct value (nunique) or collect the whole group
        # (percentile).  Approximate by contract, so no DuckDB value
        # oracle — accuracy is asserted against the exact aggregates in
        # test_agg.py instead.
        "approx_nunique": lambda c: F.approx_count_distinct(c, rsd=0.02),
        "approx_median": lambda c: F.percentile_approx(
            c, F.lit(0.5), F.lit(10000)),
    }
    if name in table:
        return table[name]
    raise ValueError(f"Unsupported aggregate function: {func!r}")


class Aggregator(SparkDFPBase):
    def __init__(self, inputs=None, outputs=None, groupby=None, func=None):
        self.inputs = list(inputs or [])
        self.outputs = list(outputs or [])
        self.groupby = list(groupby or [])
        self.func = func
        self.vals = []          # global mode: fitted scalars, one per input
        self._lookups = {}      # grouped mode: groupkey -> (FittedTable, {output: agg_col})
        assert len(self.inputs) == len(self.outputs)

    def _agg_col(self, df: DataFrame, input: str) -> Column:
        return _resolve_func(self.func)(nan_to_null(df, input))

    def fit(self, df: DataFrame, **params):
        self.vals = []
        self._lookups = {}
        if not self.groupby and _resolve_func(self.func) is F.mean:
            # correctly rounded, whatever the partition order
            self.vals = statistics(
                df, means=[nan_to_null(df, c) for c in self.inputs])[0]
        elif not self.groupby:
            row = df.agg(
                *[self._agg_col(df, c).alias(f"_a{i}") for i, c in enumerate(self.inputs)]
            ).collect()[0]
            self.vals = [row[f"_a{i}"] for i in range(len(self.inputs))]
        else:
            # Fuse all inputs that share a group key into ONE groupBy job.
            by_key: dict[str, list[tuple[str, str]]] = {}
            for input, output, g in zip(self.inputs, self.outputs, self.groupby):
                by_key.setdefault(g, []).append((input, output))
            for g, pairs in by_key.items():
                aggs = [
                    self._agg_col(df, input).alias(f"__dfp_{output}")
                    for input, output in pairs
                ]
                # pandas groupby drops NaN keys (dropna=True default), so the
                # fitted map has no entry for missing — filter them out here
                # and let the left join miss, yielding NULL like pandas.
                lookup = (
                    df.groupBy(nan_to_null(df, g).alias("__dfp_key"))
                    .agg(*aggs)
                    .filter(F.col("__dfp_key").isNotNull())
                )
                self._lookups[g] = (fit_table(lookup),
                                    {o: f"__dfp_{o}" for _, o in pairs})
        return self

    def column_exprs(self, view) -> dict:
        """Global mode's fitted scalars (none in grouped mode)."""
        return {output: F.lit(v) for output, v in zip(self.outputs, self.vals)}

    def lookups(self) -> list:
        """Grouped mode: one lookup per group key (none in global mode)."""
        return [Lookup(g, "nan", table, "__dfp_key", outmap)
                for g, (table, outmap) in self._lookups.items()]

"""Aggregator — global or grouped aggregate, learned at fit, replayed at transform.

Reference: /root/reference/dfpipeline/Aggregator.py (fit computes either a
scalar per input column, or a groupkey→aggregate dict per (input, groupby)
pair; transform writes the scalar as a constant column or maps the group
key through the dict, unseen key → NaN).

Spark-first design:
- **global**: one combined ``df.agg`` job at fit (a single scan computes
  every requested scalar); transform adds ``F.lit(scalar)`` columns —
  constant-folded by Catalyst, zero runtime cost.
- **grouped**: fit builds one *lookup DataFrame* per distinct group key via
  ``groupBy(g).agg(...)`` — inputs sharing a group key are fused into one
  aggregate (one shuffle, map-side partial aggregation).  Transform joins
  the lookup back on the key; unseen keys null out via the left join,
  matching the reference's pandas ``.map`` miss → NaN.  The lookup stays a
  DataFrame (never a driver dict): at 100 TB a frequency table over a
  high-cardinality key can be GBs — AQE picks broadcast vs shuffle join at
  runtime from actual sizes.

Aggregate functions: pandas-compatible names.  ``'std'``/``'var'`` are
sample (ddof=1) like pandas; ``np.std`` is population like numpy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..base import ColumnView, SparkDFPBase, nan_to_null


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


#: funcs safe for the fused fit_transform window path: distributive /
#: algebraic aggregates whose window form computes the identical value
#: per group.  percentile/median (group-collecting), distinct counts,
#: first/last (order-dependent) and the sketch tier keep the lookup
#: join.
#:
#: Trade-off (measured r12): the window path wins when the key has at
#: least ~cores distinct values (agg_group_mean sf1 1.106 → 0.817 s on
#: the 1 000-supplier key; the lookup join planned SortMergeJoin there
#: because the aggregate's static size estimate is scan-sized).  On a
#: near-constant key (2–3 values) a window collapses to one task per
#: group while the tiny lookup broadcast-joins with no fact exchange —
#: FrequencyEncoder measured exactly that (0.51 vs 0.57 s sf0.1 on a
#: 3-value key) and therefore keeps its join.  Every grouped Aggregator
#: in the registry/examples keys on supplier/part/user ids.
_WINDOWABLE = {"mean", "avg", "average", "std", "stddev", "var", "sum",
               "min", "max", "count"}


class Aggregator(SparkDFPBase):
    #: the remembered fit input (fused fit_transform fast path) must
    #: never be persisted: save_pipeline/_extract writes every DataFrame
    #: attribute to parquet, so without this a fitted Aggregator would
    #: write its ENTIRE training frame into the checkpoint (ADVICE r12).
    #: load_steps restores transients as None; transform then takes the
    #: fitted-lookup join path.
    _dfp_transient = ("_fit_frame",)

    def __init__(self, inputs=None, outputs=None, groupby=None, func=None):
        self.inputs = list(inputs or [])
        self.outputs = list(outputs or [])
        self.groupby = list(groupby or [])
        self.func = func
        self.vals = []          # global mode: fitted scalars, one per input
        self._lookups = {}      # grouped mode: groupkey -> (lookup DataFrame, {output: agg_col})
        assert len(self.inputs) == len(self.outputs)

    def _agg_col(self, df: DataFrame, input: str) -> Column:
        return _resolve_func(self.func)(nan_to_null(df, input))

    def fit(self, df: DataFrame, **params):
        self.vals = []
        self._lookups = {}
        # remembered for the fused fit_transform fast path (transform
        # over the very frame fit saw) — declared _dfp_transient so
        # persistence never writes it
        self._fit_frame = df
        if not self.groupby:
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
                self._lookups[g] = (lookup, {o: f"__dfp_{o}" for _, o in pairs})
        return self

    def column_exprs(self, view):
        """Global mode only; grouped mode is a lookup (serving.py)."""
        if self.groupby:
            return None
        return {output: F.lit(v) for output, v in zip(self.outputs, self.vals)}

    def transform(self, df: DataFrame) -> DataFrame:
        if not self.groupby:
            return df.withColumns(self.column_exprs(ColumnView(df)))
        # Fused fit_transform fast path: transform() over the SAME frame
        # fit() just saw (the fit_transform contract — pipeline threading
        # passes the identical object).  The lookup join would re-scan the
        # frame for the aggregate and exchange the whole fact for the
        # join-back (Catalyst's static size estimate of the aggregate
        # inflates ~65x through upstream lineage, so the join plans
        # sort-merge); a window aggregate over the group key computes the
        # identical per-group value with ONE exchange and no second scan.
        # Unseen keys cannot exist (same rows); NULL/NaN keys are masked
        # to NULL exactly like the fitted lookup's dropped-null-key miss.
        func_name = (self.func if isinstance(self.func, str)
                     else getattr(self.func, "__name__", None))
        if df is getattr(self, "_fit_frame", None) and func_name in _WINDOWABLE:
            from pyspark.sql.window import Window

            by_key: dict[str, list[tuple[str, str]]] = {}
            for input, output, g in zip(self.inputs, self.outputs, self.groupby):
                by_key.setdefault(g, []).append((input, output))
            for g, pairs in by_key.items():
                key = nan_to_null(df, g)
                w = Window.partitionBy(key)
                df = df.withColumns({
                    output: F.when(key.isNull(), F.lit(None))
                    .otherwise(self._agg_col(df, input).over(w))
                    for input, output in pairs
                })
            return df
        for g, (lookup, outmap) in self._lookups.items():
            # Join-back strategy (r11, VERDICT r10 #8 — broadcast hint
            # tried and REVERTED when measured worse): hinting the
            # fitted lookup broadcast forces it to compute EAGERLY
            # through its duplicated upstream lineage into a driver
            # build before the probe side can stream — flagship sf0.1
            # min-of-6: plain 1.82 s vs forced broadcast 2.00 s.  The
            # plain join lets AQE convert to broadcast at runtime from
            # TRUE post-shuffle sizes (Catalyst's static estimate of
            # the aggregate inflates ~65× through upstream join
            # estimates, so no sound static gate can fire).
            df = (
                df.join(lookup, on=nan_to_null(df, g) == lookup["__dfp_key"], how="left")
                .drop("__dfp_key")
            )
            df = df.withColumns({o: F.col(tmp) for o, tmp in outmap.items()})
            df = df.drop(*outmap.values())
        return df

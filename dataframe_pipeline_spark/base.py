"""Base classes and helpers for dataframe_pipeline_spark operators.

The reference framework (IBM/dataframe-pipeline, see
/root/reference/dfpipeline/DFPBase.py:23-53) defines a scikit-learn style
``fit`` / ``transform`` / ``fit_transform`` contract over a single pandas
DataFrame that every transformer mutates in place.  Here the same contract
is re-expressed over immutable PySpark DataFrames: ``transform`` returns a
*new* DataFrame built from declarative Column expressions so Catalyst can
optimize the whole pipeline as one logical plan (column pruning, predicate
pushdown, constant folding come for free).

Fitted state is kept either as small driver-side literals (scalars) or as
*lookup tables* (:class:`FittedTable`, built by :func:`fit_table` at the
end of ``fit``) that are joined back at transform time.  A table of at
most ``SERVING_MAX_ROWS`` rows is collected once and held on the driver
as a ``pyarrow.Table`` with a ``LocalRelation`` view; a larger one is a
local checkpoint on the executors, since at 100 TB a fitted
frequency/label map can be far too large for the driver.  Either way
the join reads the fitted snapshot, never the training data.

A lookup operator declares each join once, as :class:`Lookup` values
built from its fitted state by its ``lookups()`` method: the key
column and its normalization (:func:`lookup_key`), the table, the
looked-up columns and the unseen value.  Batch transform applies them
with :func:`join_lookups`; the serving tier compiles the same
declarations into driver-side dicts.  Other per-row outputs are
declared by a ``column_exprs`` hook (:class:`ColumnView`), and batch
transform is derived from the two (:meth:`SparkDFPBase.transform`).
How a lookup is applied depends
on its table.  A held table of at most ``INLINE_MAX_ROWS`` rows is
written inline as a literal map (:func:`literal_lookup`), with no join
and no job.  A larger held table is joined with a ``broadcast`` hint.
A checkpointed one is joined with no hint, and AQE picks the strategy
from its true size.
"""

from __future__ import annotations

import functools
import itertools
from dataclasses import dataclass

import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_type

#: Sentinel meaning "all columns" (reference: DFPBase.py:25 ``_PARM_ALL``).
PARM_ALL = "__ALL"

#: Attribute the serving tier (serving.py) keeps a step's compiled
#: lookup state under: driver-side dicts built from the step's held
#: fitted tables, or ``False`` when the step left the compiled path.
#: Declared here so (a) ``fit`` can drop it without a circular import
#: and (b) persistence can strip it (it is a pure derivation of the
#: fitted state and is rebuilt after load).
SERVING_CACHE_ATTR = "_dfp_serving_literals"

#: Per-step fit generation; a compiled serving program records the
#: generation of every step it was built from and recompiles when one
#: differs (see :func:`invalidate_serving`).
GENERATION_ATTR = "_dfp_generation"

_generations = itertools.count(1)


def invalidate_serving(step) -> None:
    """Mark ``step`` as refit: drop its compiled serving state and bump
    its generation, so every compiled program that uses it recompiles."""
    step.__dict__.pop(SERVING_CACHE_ATTR, None)
    setattr(step, GENERATION_ATTR, next(_generations))


#: Fitted lookup tables with at most this many rows are held on the
#: driver (:func:`fit_table`); serving looks them up in Python dicts.
#: A larger table is checkpointed on the executors and keeps the batch
#: join, in serving too.
SERVING_MAX_ROWS = 100_000

#: Held tables with at most this many rows are applied as literal maps
#: (:func:`literal_lookup`), not broadcast joins: a broadcast of a held
#: table runs a job on every action over the plan, while a map lookup
#: scans the map's keys per row.  At 5M rows (one string key, noop
#: sink, JVM CPU on 4 vCPUs) a 10-key map cost 1150 ms against 2480 ms
#: for the broadcast join and 1000 ms with no lookup; at 64 keys the
#: map still won, 1500 against 2260 ms.  10 keeps the map well inside
#: that range; every encoder dictionary of the gated workloads has at
#: most 7 rows, and their 150-row per-user tables stay joined.
INLINE_MAX_ROWS = 10

#: the index column of a stacked frame (:func:`stack_inputs`)
STACK_COL = "__dfp_i"

#: the ComplementLabelEncoder class of NULL/NaN (and of unseen values)
EXTRA = "extra_category_"


class FittedTable:
    """A fitted lookup table, the one form batch transform, serving and
    persistence read.

    *Held* (at most ``SERVING_MAX_ROWS`` rows): ``arrow`` is the
    ``pyarrow.Table`` collected at fit, and ``df`` its ``LocalRelation``
    view (``spark.createDataFrame(arrow)``, built on first use), which
    reads no file and launches no job of its own.  *Large*: ``arrow``
    is None and ``df`` is a local checkpoint whose RDD blocks (``ids``)
    are released when the step is refit — or, after load, a parquet
    scan of the saved table."""

    def __init__(self, spark, arrow=None, df: DataFrame | None = None,
                 ids=()):
        self._spark = spark
        self.arrow = arrow
        self._df = df
        self._join_view = None
        self._maps = {}
        self.ids = list(ids)

    @property
    def held(self) -> bool:
        return self.arrow is not None

    @property
    def df(self) -> DataFrame:
        if self._df is None:
            self._df = self._spark.createDataFrame(self.arrow)
        return self._df

    @property
    def join_view(self) -> DataFrame:
        """``df`` as a batch join reads it: hinted ``broadcast`` iff the
        table is held; a checkpointed table is left to AQE.  A held
        table small enough to be a literal map is not joined at all
        (:func:`join_lookups`)."""
        if self._join_view is None:
            self._join_view = F.broadcast(self.df) if self.held else self.df
        return self._join_view

    def literal_map(self, key: str, value: str) -> tuple:
        """Column ``value`` of the held table keyed by column ``key``:
        ``(map, null, type)``, a literal map column of the table's types
        (None if the table has no non-NULL key), the value of the
        NULL-key row (None if there is none) and the value type.  Built
        once per column pair: the table never changes."""
        if (key, value) not in self._maps:
            vtype = from_arrow_type(self.arrow[value].type)
            mtype = T.MapType(from_arrow_type(self.arrow[key].type), vtype)
            args, null = [], None
            for k, v in zip(self.arrow[key].to_pylist(),
                            self.arrow[value].to_pylist()):
                if k is None:
                    null = v
                else:
                    args += [F.lit(k), F.lit(v)]
            m = F.create_map(*args).cast(mtype) if args else None
            self._maps[key, value] = (m, null, vtype)
        return self._maps[key, value]

    def release(self) -> None:
        if self.ids:
            release_checkpoint(self._spark, self.ids)
            self.ids = []


def fit_table(df: DataFrame) -> FittedTable:
    """The fitted form of lookup plan ``df``: collected once and held if
    it has at most ``SERVING_MAX_ROWS`` rows, else checkpointed."""
    arrow = df.limit(SERVING_MAX_ROWS + 1).toArrow()
    if arrow.num_rows <= SERVING_MAX_ROWS:
        return FittedTable(df.sparkSession, arrow=arrow)
    frame, ids = tracked_checkpoint(df)
    return FittedTable(df.sparkSession, df=frame, ids=ids)


def lookup_key(view, name: str, norm: str) -> Column:
    """The table key of column ``name`` (``view``: a ColumnView),
    normalized as ``norm``: ``"string"`` is the ComplementLabelEncoder
    key (the string cast, NULL and NaN as ``EXTRA``), ``"nan"`` maps
    float NaN to NULL, ``"raw"`` is the column as it is."""
    if norm == "raw":
        return view.col(name)
    key = view.nan_to_null(name)
    if norm == "nan":
        return key
    return F.coalesce(key.cast("string"), F.lit(EXTRA))


@dataclass
class Lookup:
    """One fitted lookup, the declaration batch transform
    (:func:`join_lookups`) and the serving tier both read: each output
    is the ``values`` column of the ``table`` row whose ``table_key``
    equals the normalized ``key`` column, or ``miss`` when no row does.
    A NULL key matches no row, except with ``null_safe``, where it
    matches the table's NULL key."""

    key: str
    norm: str
    table: FittedTable
    table_key: str
    values: dict            # {output column: table value column}
    miss: object = None
    null_safe: bool = False


def literal_lookup(view, lk: Lookup, output: str) -> Column:
    """Output ``output`` of ``lk`` (``view``: a ColumnView) with no join:
    the normalized key looked up in the held table's literal map
    (:meth:`FittedTable.literal_map`), ``element_at(map, key)``.  Its
    value and type are the join's: a NULL key matches no row (except
    with ``null_safe``), NaN matches NaN and -0.0 matches 0.0, as in the
    join, and the unseen value is coalesced in as the join does."""
    m, null, vtype = lk.table.literal_map(lk.table_key, lk.values[output])
    key = lookup_key(view, lk.key, lk.norm)
    looked = (F.element_at(m, key) if m is not None
              else F.lit(None).cast(vtype))
    if lk.null_safe and null is not None:
        looked = F.when(key.isNull(), F.lit(null).cast(vtype)) \
            .otherwise(looked)
    return looked if lk.miss is None else F.coalesce(looked, F.lit(lk.miss))


def _inlines(view, lk: Lookup) -> bool:
    """Whether :func:`join_lookups` writes ``lk`` as a literal map: its
    table is held, has at most ``INLINE_MAX_ROWS`` rows, and its key
    and value columns are atomic, the key of the type of the table's."""
    t = lk.table.arrow
    if t is None or t.num_rows > INLINE_MAX_ROWS:
        return False
    types = [from_arrow_type(t[c].type)
             for c in (lk.table_key, *lk.values.values())]
    key = T.StringType() if lk.norm == "string" else view.dtype(lk.key)
    return (all(isinstance(ty, T.AtomicType) for ty in types)
            and key == types[0])


def join_lookups(df: DataFrame, lookups) -> DataFrame:
    """``df`` with the outputs of each :class:`Lookup`.  A held table of
    at most ``INLINE_MAX_ROWS`` rows is a literal map
    (:func:`literal_lookup`), and consecutive such lookups share one
    ``withColumns``; any other table is left-joined on the key
    (:attr:`FittedTable.join_view`: broadcast if held, AQE's choice if
    checkpointed).  Lookups apply in order, each reading the columns
    the earlier ones wrote."""
    inline = {}
    for lk in lookups:
        if lk.key in inline:
            df, inline = df.withColumns(inline), {}
        view = ColumnView(df)
        if _inlines(view, lk):
            inline.update({o: literal_lookup(view, lk, o) for o in lk.values})
            continue
        if inline:
            df, inline = df.withColumns(inline), {}
        key = lookup_key(ColumnView(df), lk.key, lk.norm)
        on = (key.eqNullSafe(F.col(lk.table_key)) if lk.null_safe
              else key == F.col(lk.table_key))
        df = (df.join(lk.table.join_view, on, "left")
              .withColumns({o: F.col(v) if lk.miss is None
                            else F.coalesce(F.col(v), F.lit(lk.miss))
                            for o, v in lk.values.items()})
              .drop(lk.table_key, *lk.values.values()))
    return df.withColumns(inline) if inline else df


def fitted_tables(obj, depth: int = 3) -> list:
    """Every FittedTable in a step's state: its attributes and the
    dicts, lists and tuples they hold, ``depth`` levels down."""
    if isinstance(obj, FittedTable):
        return [obj]
    if isinstance(obj, SparkDFPBase):
        obj = vars(obj)
    if isinstance(obj, dict):
        obj = obj.values()
    elif not isinstance(obj, (list, tuple)):
        return []
    if depth == 0:
        return []
    return [t for v in obj for t in fitted_tables(v, depth - 1)]


def stack_inputs(df: DataFrame, keys: list, **carry: Column) -> DataFrame:
    """One frame for the keys of several inputs, so that one aggregate
    fits them all: a row per (row of ``df``, key) with the key's index
    in ``STACK_COL``, the key in ``__dfp_k<i>`` (the other key columns
    NULL, so every key keeps its own type) and the ``carry`` columns.
    One key is a plain projection, with no ``explode``."""
    carried = [c.alias(n) for n, c in carry.items()]
    if len(keys) == 1:
        return df.select(F.lit(0).alias(STACK_COL),
                         keys[0].alias("__dfp_k0"), *carried)
    types = df.select(*keys).schema
    rows = F.array(*[F.struct(
        F.lit(i).alias(STACK_COL),
        *[(k if j == i else F.lit(None).cast(types[j].dataType))
          .alias(f"__dfp_k{j}") for j, k in enumerate(keys)],
        *carried) for i in range(len(keys))])
    return df.select(F.explode(rows).alias("__dfp_s")).select("__dfp_s.*")


def unstack(table: FittedTable, n: int, key: str, values=()) -> list:
    """The ``n`` per-input tables of a stacked table (one fitted from a
    :func:`stack_inputs` frame): for input ``i``, its rows whose key
    ``__dfp_k<i>`` is not NULL, with the key named ``key``, followed by
    the ``values`` columns."""
    out = []
    for i in range(n):
        k = f"__dfp_k{i}"
        names = {k: key, **{v: v for v in values}}
        if table.held:
            t = table.arrow
            rows = t.filter(pc.and_(pc.equal(t[STACK_COL], i),
                                    pc.is_valid(t[k])))
            out.append(FittedTable(table._spark, arrow=rows.select(
                list(names)).rename_columns(list(names.values()))))
        else:
            out.append(FittedTable(table._spark, ids=table.ids, df=(
                table.df.filter((F.col(STACK_COL) == i)
                                & F.col(k).isNotNull())
                .select(*[F.col(c).alias(a) for c, a in names.items()]))))
    return out


class SparkDFPBase:
    """Common base: fit/transform contract + column-list helpers.

    Mirrors the API of ``dfpipeline.DFPBase`` (reference DFPBase.py:23-40)
    without any of its ONNX machinery — Spark's Catalyst plan plays the
    role the ONNX graph played in the reference.
    """

    _PARM_ALL = PARM_ALL

    def __init_subclass__(cls, **kwargs):
        """Wrap each subclass's ``fit`` so refitting invalidates any
        compiled serving state: without this, ``fit`` rebuilds the
        lookup state but ``serving_transform`` keeps scoring with the
        OLD lookups — silent batch/serving divergence.  The refit also
        releases the checkpoints of the tables it replaced."""
        super().__init_subclass__(**kwargs)
        fit = cls.__dict__.get("fit")
        if fit is not None and not getattr(fit, "_dfp_invalidates", False):
            @functools.wraps(fit)
            def fit_and_invalidate(self, *args, **kw):
                invalidate_serving(self)
                superseded = fitted_tables(self)
                out = fit(self, *args, **kw)
                for table in superseded:
                    table.release()
                return out

            fit_and_invalidate._dfp_invalidates = True
            cls.fit = fit_and_invalidate

    @classmethod
    def replace_PARM_ALL(cls, df: DataFrame, tgt):
        if isinstance(tgt, str) and tgt == PARM_ALL:
            return list(df.columns)
        return tgt

    def fit(self, df: DataFrame, **params) -> "SparkDFPBase":
        """Learn state from ``df``. Default: stateless no-op."""
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        """Batch transform, derived from the step's declarations in the
        order serving composes them: ``lookups()`` (:func:`join_lookups`),
        then the ``column_exprs`` hook (one ``withColumns``, and a
        ``drop`` of the columns it maps to ``None``)."""
        if hasattr(self, "lookups"):
            df = join_lookups(df, self.lookups())
        hook = getattr(self, "column_exprs", None)
        updates = hook(ColumnView(df)) if hook else {}
        if updates is None:
            raise NotImplementedError(f"{type(self).__name__}: no column hook")
        kept = {c: e for c, e in updates.items() if e is not None}
        dropped = [c for c, e in updates.items() if e is None]
        df = df.withColumns(kept) if kept else df
        return df.drop(*dropped) if dropped else df

    def fit_transform(self, df: DataFrame, **params) -> DataFrame:
        return self.fit(df, **params).transform(df)


# ---------------------------------------------------------------------------
# NaN / NULL normalization helpers
#
# The reference conflates NaN and "missing" (pandas semantics).  Spark
# distinguishes SQL NULL from float NaN and — crucially — treats NaN as
# *larger than any number* in comparisons and as a normal value in
# aggregates.  To reproduce pandas semantics every statistic and comparison
# must see NaN as NULL.  These helpers do that normalization once, near the
# scan, so the rest of the plan stays NULL-only.
# ---------------------------------------------------------------------------

_FLOATING = (T.FloatType, T.DoubleType)


def is_floating(dtype: T.DataType) -> bool:
    return isinstance(dtype, _FLOATING)


def nan_to_null(df: DataFrame, name: str) -> Column:
    """Column expr for ``name`` with float NaN mapped to NULL.

    Non-floating columns pass through untouched (``isnan`` is only defined
    for float/double).
    """
    return ColumnView(df).nan_to_null(name)


class ColumnView:
    """The columns a step's column hook reads: the expression and type
    of each column of the frame it applies to.

    An operator whose outputs are per-row Column arithmetic exposes
    ``column_exprs(view) -> {output: Column}`` (``None`` as a value
    drops the column; ``None`` instead of a dict means this
    configuration cannot be written as columns).  Over a DataFrame,
    ``view.col(name)`` is ``F.col(name)``, and the default batch
    transform (:meth:`SparkDFPBase.transform`) writes the hook's
    columns with one ``withColumns``; the serving compiler passes a
    view whose columns are the expressions earlier steps wrote, which
    composes a whole pipeline into one ``select``.
    """

    def __init__(self, df: DataFrame):
        self._df = df

    @property
    def columns(self) -> list:
        return self._df.columns

    def col(self, name: str) -> Column:
        return F.col(name)

    def dtype(self, name: str) -> T.DataType:
        return self._df.schema[name].dataType

    def type_of(self, expr: Column) -> T.DataType:
        """The type of an expression over the view (analysis, no job)."""
        return self._df.select(expr).schema[0].dataType

    def nan_to_null(self, name: str) -> Column:
        col = self.col(name)
        if is_floating(self.dtype(name)):
            return F.when(F.isnan(col), F.lit(None)).otherwise(col)
        return col

    def after(self, updates: dict) -> "ColumnView":
        """This view after ``updates`` (a column hook's result) are
        written: for a hook whose later outputs read its earlier ones."""
        return _Written(self, updates)


class _Written(ColumnView):
    """``view`` with a hook's outputs written over it
    (:meth:`ColumnView.after`)."""

    def __init__(self, view: ColumnView, updates: dict):
        self._view, self._updates = view, dict(updates)

    def col(self, name: str) -> Column:
        if name in self._updates:
            return self._updates[name]
        return self._view.col(name)

    def dtype(self, name: str) -> T.DataType:
        if name in self._updates:
            return self._view.type_of(self._updates[name])
        return self._view.dtype(name)


def stringify(view: ColumnView, name: str) -> Column:
    """Cast a column to string the way ``str(x)`` does in Python.

    pandas ``astype(str)`` renders float NaN as ``'nan'``; Spark's cast
    renders it ``'NaN'`` — normalize to the pandas spelling so string ops
    (concat/split) agree with the reference.
    """
    col = view.col(name)
    s = col.cast("string")
    if is_floating(view.dtype(name)):
        s = F.when(F.isnan(col), F.lit("nan")).otherwise(s)
    return s


# ---------------------------------------------------------------------------
# Python/NumPy dtype → Spark type mapping
# (reference: DFPBase.py:134-212 maps the same set to ONNX tensor types)
# ---------------------------------------------------------------------------

_NP_TO_SPARK = {
    "int8": T.ByteType(),
    "int16": T.ShortType(),
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    # Spark has no unsigned ints; widen like the reference's ONNX mapping.
    "uint8": T.ShortType(),
    "uint16": T.IntegerType(),
    "uint32": T.LongType(),
    "uint64": T.LongType(),
    "float16": T.FloatType(),
    "float32": T.FloatType(),
    "float64": T.DoubleType(),
    "float128": T.DoubleType(),
    "bool": T.BooleanType(),
    "str": T.StringType(),
    "string": T.StringType(),
    "object": T.StringType(),
    "int": T.LongType(),
    "float": T.DoubleType(),
}


def to_spark_type(t) -> T.DataType:
    """Accept a numpy dtype/type, Python builtin type, Spark type, or name."""
    if isinstance(t, T.DataType):
        return t
    if t is int:
        return T.LongType()
    if t is float:
        return T.DoubleType()
    if t is str:
        return T.StringType()
    if t is bool:
        return T.BooleanType()
    name = getattr(t, "__name__", None) or str(t)
    try:
        import numpy as np

        name = str(np.dtype(t))
    except Exception:
        pass
    if name in _NP_TO_SPARK:
        return _NP_TO_SPARK[name]
    # last resort: let Spark parse type names like 'double', 'bigint'
    return T._parse_datatype_string(str(name))


def literal_df(spark, values, colname: str, cast: str = "string") -> DataFrame:
    """Small literal one-column DataFrame, built JVM-side.

    ``spark.createDataFrame([...])`` wraps a *Python RDD* — every evaluation
    spawns a Python worker, and inside a broadcast/AQE subplan it can be
    re-evaluated several times (measured ~25 s of overhead in a fitted-join
    plan at sf0.1).  ``range(1) + explode(array(lit...))`` keeps the literal
    entirely in the JVM: plan-only, codegen'd, free to re-evaluate.
    """
    arr = F.array(*[F.lit(v).cast(cast) for v in values])
    return spark.range(1).select(F.explode(arr).alias(colname))


def infer_spark_type_of_value(v) -> T.DataType:
    import datetime

    import numpy as np

    if isinstance(v, bool):
        return T.BooleanType()
    if isinstance(v, (int, np.integer)):
        return T.LongType()
    if isinstance(v, (float, np.floating)):
        return T.DoubleType()
    if isinstance(v, (datetime.datetime, np.datetime64)):
        return T.TimestampType()
    if isinstance(v, datetime.date):
        return T.DateType()
    if isinstance(v, (bytes, bytearray)):
        return T.BinaryType()
    return T.StringType()


def cheap_row_count(df: DataFrame) -> int:
    """Row count without a Spark job when the frame is a parquet scan
    (possibly projected/filtered): sums ``num_rows`` from the parquet
    footers of ``df.inputFiles()`` — driver-side metadata reads, no
    executor pass over the data.  Falls back to a ``count()`` job for
    non-file frames (local relations, post-shuffle results, non-parquet
    sources).

    With filters present the footer total is an *upper bound* on the
    true count — the safe direction for every caller in this package
    (sampling-modulus and plane-count decisions: an overestimate samples
    slightly fewer rows / adds a plane, never unbounds a driver
    collect).  Plans with row-multiplying operators (joins, generators)
    — where the footer sum could *under*-count — fall back to the job.
    At 100 TB this turns three fit-time full scans into footer reads.
    """
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
        if "Join" in plan or "Generate" in plan:
            return df.count()
        files = df.inputFiles()
    except Exception:
        files = []
    if files and all(f.rsplit("?", 1)[0].endswith(".parquet") for f in files):
        try:
            from urllib.parse import unquote, urlparse

            import pyarrow.parquet as pq

            total = 0
            for f in files:
                u = urlparse(f)
                if u.scheme not in ("", "file"):
                    raise ValueError(f"non-local file {f}")
                total += pq.ParquetFile(unquote(u.path)).metadata.num_rows
            return total
        except Exception:
            pass
    return df.count()


def tracked_checkpoint(df: DataFrame) -> tuple[DataFrame, list[int]]:
    """Eager ``localCheckpoint`` that also returns the ids of the RDD
    blocks the checkpoint pinned, so iterative callers can RELEASE a
    superseded round's checkpoint (ADVICE r8: ``DataFrame.unpersist()``
    only touches the cache manager, not the checkpoint RDD — without an
    explicit release every round's label blocks accumulate in executor
    storage until driver GC happens to collect the RDD references).

    The ids are computed as the delta of the context's persistent-RDD
    map around the checkpoint call — exact as long as no *concurrent*
    thread persists in the same window (this package's iterative
    drivers are single-threaded loops).  Pair with
    :func:`release_checkpoint`."""
    sc = df.sparkSession.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet())
    out = df.localCheckpoint(eager=True)
    new_ids = [int(i) for i in sc._jsc.getPersistentRDDs().keySet()
               if i not in before]
    return out, new_ids


def release_checkpoint(spark, ids) -> None:
    """Unpersist the checkpoint RDD blocks captured by
    :func:`tracked_checkpoint` (non-blocking; missing ids are fine —
    the blocks may already have been GC-released)."""
    try:
        live = spark.sparkContext._jsc.getPersistentRDDs()
        for i in ids:
            rdd = live.get(i)
            if rdd is not None:
                rdd.unpersist(False)
    except Exception:
        pass

"""Online-scoring tier: a fitted pipeline compiled once, then each
request is evaluated by a projection bound once, with no Spark job and
no SQL parse, analysis or optimization.

Batch transform JOINs fitted lookup tables, the scale-correct shape;
for one row per request that plan costs a Spark job.  Serving instead
compiles the pipeline once per fit of its steps and per input schema:

* each lookup step (ComplementLabelEncoder, grouped Aggregator,
  FrequencyEncoder, TargetEncoder, WOEEncoder, WrapTransformer
  LabelEncoder) declares its joins with ``lookups()``
  (:class:`~dataframe_pipeline_spark.base.Lookup`), the declarations
  its batch transform applies too.  Each becomes a driver-side
  ``dict`` per output, built from the Arrow columns of the held
  :class:`~dataframe_pipeline_spark.base.FittedTable`, so compiling
  launches no Spark job.  Keys are looked up in Python while the
  request row is rendered, with the declared key normalization,
  unseen value and NULL-key rule, and the values ride as extra typed
  columns of the request row;
* every other step adds its columns through its ``column_exprs`` hook
  (:class:`~dataframe_pipeline_spark.base.ColumnView`), composed over
  the expressions earlier steps wrote into one precomputed select.
  Batch transform is derived from the same two declarations.

The first request is rendered as an inline ``VALUES`` relation, the
select is applied and the result collected: Catalyst folds that plan
into a ``LocalRelation`` by evaluating the select with an interpreted
projection (``ConvertToLocalRelation``), on the driver, and the plan's
size does not grow with the dictionaries.  The program then binds that
same projection once (:class:`_Projection`), and checks it gives the
first request's result exactly.  Every later request is render →
encode by declared type → one JVM function that unpickles, projects and
pickles the row → decode: one Py4J call a row, under a per-program
lock.  Requests keep the ``VALUES`` path (the
parity reference) in a program with a barrier, for a select with a
nondeterministic expression, where binding fails or its template
result differs (each logged once), for a request whose values are not
of their declared types (``createDataFrame`` rejects them, ``VALUES``
casts them), and from the first request the projection fails on (logged).

Python lookups are used only where Python equality matches Spark's
normalized key (strings, integral types, booleans, dates, and floats
with NaN normalized); any other key type, or a key written by an
earlier step, keeps a literal-map lookup inside the select.  That
literal map is :func:`~dataframe_pipeline_spark.base.literal_lookup`,
the one batch transform writes for a tiny held table, so batch and
serving share one literal-map rule.  A table
fit did not hold (over ``SERVING_MAX_ROWS`` rows, the driver-memory
bound, so checkpointed on the executors) keeps the batch join, which
launches jobs.  A step without a column hook for its configuration
(statistics of the batch being transformed, a row filter, set algebra,
an Arrow-UDF lambda or wrapped object, a two-key join, AnnAnnotator)
is a barrier: the select so far is applied, the step runs as in batch,
and composition resumes after it (a tail program).  Each step that
leaves the compiled path is logged once per compile on
``logging.getLogger("dataframe_pipeline_spark")`` with its index, class
and reason.  The compiled program lives on the pipeline object and is
never saved; refitting a step bumps its generation
(``base.invalidate_serving``), and the next request recompiles, as does
a request in another session.  This is
the analogue of the reference's compiled export, which scores single
rows from a graph built once.
"""

from __future__ import annotations

import datetime
import decimal
import logging
import math
import threading
from dataclasses import dataclass

from py4j.java_gateway import get_java_class
from py4j.protocol import Py4JError, Py4JJavaError
from pyspark.errors.exceptions.captured import CapturedException
from pyspark.serializers import CPickleSerializer
from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import _make_type_verifier

from .base import (EXTRA, GENERATION_ATTR, SERVING_CACHE_ATTR,
                   SERVING_MAX_ROWS, ColumnView, Lookup, is_floating,
                   literal_lookup)

log = logging.getLogger("dataframe_pipeline_spark")

_PROGRAM_ATTR = "_dfp_serving_program"
_HIDDEN = "__dfp_lk"
#: table key standing for float NaN (NaN != NaN in Python, but Spark's
#: join and map lookups treat NaN as one value)
_NAN = object()


#: class names of the steps that declare lookups (a ``lookups()``
#: method, see ``base.Lookup``); perfbench counts them to report the
#: share of lookup steps compiled
_SERVING_COMPILERS = frozenset({
    "ComplementLabelEncoder", "Aggregator", "FrequencyEncoder",
    "TargetEncoder", "WrapTransformer", "WOEEncoder"})


@dataclass
class _Compiled:
    """One looked-up output column: ``table.get(key, lookup.miss)``, or
    ``null`` for a NULL key, cast to ``dtype`` — the batch join's
    result."""

    lookup: Lookup
    output: str
    table: dict
    dtype: T.DataType
    null: object


def _compile_lookups(op):
    """The step's declared lookups (``op.lookups()``), read from the
    Arrow columns of their held tables with no Spark job; False when a
    table is not held (it has over SERVING_MAX_ROWS rows).  A NULL value
    reads as the unseen value, as the batch join's ``coalesce`` does."""
    out = []
    for lk in op.lookups():
        if not lk.table.held:
            return False
        keys = lk.table.arrow[lk.table_key].to_pylist()
        for output, vcol in lk.values.items():
            values = lk.table.arrow[vcol]
            entries = {_NAN if k != k else k: lk.miss if v is None else v
                       for k, v in zip(keys, values.to_pylist())}
            null = entries.pop(None, lk.miss)
            out.append(_Compiled(lk, output, entries,
                                 from_arrow_type(values.type),
                                 null if lk.null_safe else lk.miss))
    return out


# -- key normalization -----------------------------------------------------

def _py_key(norm: str, dtype: T.DataType):
    """Python function from a request value to its table key, normalized
    as the batch join normalizes it; None where Python equality does
    not reproduce Spark's for this key type."""
    def as_date(v):
        return v.date() if isinstance(v, datetime.datetime) else v

    if norm == "string":
        if isinstance(dtype, T.StringType):
            return lambda v: EXTRA if v is None else v
        if isinstance(dtype, T.IntegralType):
            return lambda v: EXTRA if v is None else str(v)
        if isinstance(dtype, T.BooleanType):
            return lambda v: EXTRA if v is None else ("true" if v else "false")
        if isinstance(dtype, T.DateType):
            return lambda v: EXTRA if v is None else as_date(v).isoformat()
        return None
    if is_floating(dtype):
        if norm == "nan":
            return lambda v: None if v is None or v != v else v
        return lambda v: _NAN if v is not None and v != v else v
    if isinstance(dtype, T.DateType):
        return as_date
    if isinstance(dtype, (T.StringType, T.IntegralType, T.BooleanType)):
        return lambda v: v
    return None


# -- compile ---------------------------------------------------------------

class _Env(ColumnView):
    """The frame a compiled select is built over: each column's current
    expression, in output order, and the looked-up columns rendered
    into the request relation."""

    def __init__(self, spark, schema: T.StructType):
        self._spark = spark
        self.exprs = {f.name: F.col(f.name) for f in schema.fields}
        self.types = {f.name: f.dataType for f in schema.fields}
        self.base = list(schema.fields)
        self.hidden: list = []
        self.written: set = set()

    @property
    def columns(self) -> list:
        return list(self.exprs)

    def col(self, name: str):
        return self.exprs.get(name, F.col(name))

    def dtype(self, name: str) -> T.DataType:
        if name not in self.types:
            self.types[name] = self.type_of(self.col(name))
        return self.types[name]

    def type_of(self, expr) -> T.DataType:
        # analysis of an empty JVM-side relation: no job
        empty = self._spark.range(0).select(*[
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in self.base + self.hidden])
        return empty.select(expr).schema[0].dataType

    def set(self, updates: dict, dtypes: dict | None = None) -> None:
        for name, expr in updates.items():
            self.written.add(name)
            self.types.pop(name, None)
            if expr is None:
                self.exprs.pop(name, None)
                continue
            self.exprs[name] = expr
            if dtypes and name in dtypes:
                self.types[name] = dtypes[name]

    def select(self):
        if not self.written and not self.hidden:
            return None
        return [e.alias(n) for n, e in self.exprs.items()]


class _Program:
    """The steps of a fitted pipeline from ``start`` on, compiled for one
    input schema: Python lookups to render, one select, and the barrier
    step (if any) after which a tail program takes over."""

    def __init__(self, steps, spark, schema: T.StructType, start: int = 0):
        self.signature = [(s, getattr(s, GENERATION_ATTR, 0)) for s in steps]
        self.schema = schema
        self.types = _types(schema)
        self.spark = spark
        self.lookups: list = []     # (key index, key function, _Compiled)
        self.barrier = None         # (index, step)
        self.tail = None
        env = _Env(spark, schema)
        names = [f.name for f in schema.fields]
        for i in range(start, len(steps)):
            if not self._compose(i, steps[i], env, names, render=start == 0):
                self.barrier = (i, steps[i])
                break
        self.rendered_schema = T.StructType(list(schema.fields) + env.hidden)
        self.select = env.select()
        # the select bound on the first request (a _Projection); False
        # where requests keep the VALUES path
        self.projection = None if self.barrier is None else False
        self._lock = threading.Lock()
        self._mistyped = False      # a mistyped request was logged

    def _compose(self, i, step, env, names, render) -> bool:
        """Add step ``i`` to the select; False when it is a barrier."""
        cls = type(step).__name__
        declares = hasattr(step, "lookups")
        specs = []
        if declares:
            # kept on the step until it is refit; False (a step that left
            # the compiled path) is worked out again at each compile
            specs = getattr(step, SERVING_CACHE_ATTR, None)
            if specs is None or specs is False:
                specs = _compile_lookups(step)
                setattr(step, SERVING_CACHE_ATTR, specs)
        if specs is False:
            _report(i, cls, f"a fitted table is over SERVING_MAX_ROWS="
                    f"{SERVING_MAX_ROWS} entries; it runs the batch join, "
                    "which launches Spark jobs")
            return False
        inexact = {}
        for spec in specs:
            key, key_fn = spec.lookup.key, None
            if not render or key not in names or key in env.written:
                why = f"key {key!r} is computed by an earlier step"
            else:
                dtype = env.dtype(key)
                key_fn = _py_key(spec.lookup.norm, dtype)
                why = (f"key {key!r} is {dtype.simpleString()}, whose "
                       "Spark key normalization Python equality does not "
                       "reproduce")
            if key_fn is not None:
                hidden = f"{_HIDDEN}{len(env.hidden)}"
                env.hidden.append(T.StructField(hidden, spec.dtype))
                self.lookups.append((names.index(key), key_fn, spec))
                env.set({spec.output: F.col(hidden)},
                        {spec.output: spec.dtype})
            else:
                inexact[why] = None
                env.set({spec.output: literal_lookup(env, spec.lookup,
                                                     spec.output)})
        if inexact:
            _report(i, cls, "; ".join(inexact) + "; the lookup stays a "
                    "literal map inside the select")
        hook = getattr(step, "column_exprs", None)
        updates = hook(env) if hook is not None else None
        if updates is None and not specs:
            if declares:
                setattr(step, SERVING_CACHE_ATTR, False)
            _report(i, cls, "a barrier step (no column hook for its "
                    "configuration); the select built so far is applied "
                    "before it and the step runs its batch transform")
            return False
        env.set(updates or {})
        return True

    def valid(self, steps, spark, schema) -> bool:
        return (spark is self.spark
                and (schema is self.schema or _types(schema) == self.types)
                and len(steps) == len(self.signature)
                and all(s is s0 and getattr(s, GENERATION_ATTR, 0) == g
                        for s, (s0, g) in zip(steps, self.signature)))

    def render(self, rows) -> list:
        """Request rows as value lists in schema order, each followed by
        its looked-up values."""
        names = [f.name for f in self.schema.fields]
        out = []
        for row in rows:
            if hasattr(row, "asDict"):
                row = row.asDict()
            vals = ([row[n] for n in names] if isinstance(row, dict)
                    else list(row))
            for idx, key_fn, spec in self.lookups:
                k = key_fn(vals[idx])
                vals.append(spec.null if k is None
                            else spec.table.get(k, spec.lookup.miss))
            out.append(vals)
        return out

    def serve(self, pipeline, rows) -> list:
        """Rendered ``rows`` through the bound projection, or through a
        VALUES relation, the select and ``collect``.  The first request
        served through VALUES is the template the projection is bound
        from."""
        projection, error = self.projection, None
        if projection and rows:
            try:
                out = projection(rows)
            except (Py4JJavaError, CapturedException) as e:
                out, error = None, e
            if out is not None:
                return out
            if error is None and not self._mistyped:
                self._mistyped = True
                log.warning("serving: a request holds a value not of its "
                            "column's declared type; such requests are "
                            "cast by the VALUES relation, parsed, analyzed "
                            "and optimized per request")
        out = serving_transform(pipeline, local_rows_df(
            self.spark, rows, self.rendered_schema)).collect()
        if error is not None:
            # the VALUES path serves what the projection failed on
            self._fall_back(f"the projection failed on a request: "
                            f"{_summary(error)}")
        elif projection is None:
            self._bind(rows, out)
        return out

    def _bind(self, rows, out) -> None:
        """Bind the select once the projection gives the VALUES path's
        ``out`` for the template request ``rows`` exactly; a template
        whose values are not of their declared types waits for the next.
        The select is analyzed over one all-NULL row: an inline table's
        column is nullable only if it holds a NULL, and the projection
        writes a NULL only into an output analyzed as nullable."""
        with self._lock:
            if self.projection is not None:
                return
            nulls = [None] * len(self.rendered_schema.fields)
            try:
                template = self.apply(local_rows_df(
                    self.spark, [nulls], self.rendered_schema))
                projection = _Projection(template, self.rendered_schema)
                got = projection(rows)
            except _Unbound as e:
                why = str(e)
            except Exception as e:  # an internal Catalyst API failed
                why = f"binding it failed: {_summary(e)}"
            else:
                if got is None:
                    return
                why = (None if _same(got, out) else "the projection's "
                       "result differs from the VALUES path's on the "
                       "template request")
            if why is None:
                self.projection = projection
            else:
                self._fall_back(why)

    def _fall_back(self, why: str) -> None:
        self.projection = False
        log.warning("serving: requests keep the VALUES relation (parsed, "
                    "analyzed and optimized per request): %s", why)

    def apply(self, df: DataFrame) -> DataFrame:
        X = df.select(*self.select) if self.select is not None else df
        if self.barrier is None:
            return X
        i, step = self.barrier
        fn = _SERVING_BARRIERS.get(type(step).__name__)
        X = fn(step, X) if fn is not None else step.transform(X)
        schema = X.schema
        if self.tail is None or self.tail.types != _types(schema):
            steps = [s for s, _ in self.signature]
            self.tail = _Program(steps, self.spark, schema, start=i + 1)
        return self.tail.apply(X)


class _Unbound(Exception):
    """Why a program's select cannot be bound to a projection."""


def _node(plan) -> str:
    return plan.getClass().getSimpleName()


class _Projection:
    """A program's select bound once to the attributes of its rendered
    relation.  Catalyst evaluates a select over a ``LocalRelation`` with
    an ``InterpretedMutableProjection`` (``ConvertToLocalRelation``); this
    keeps one, built from the analyzed plan of the select ``df`` after
    ``ReplaceExpressions``, so a request skips parsing, analysis and
    optimization.  A request is encoded as ``createDataFrame`` encodes it
    (type verification, ``StructType.toInternal``, a pickle) and decoded
    as ``collect()`` decodes it (``pickle.loads``, then the output
    schema's ``fromInternal``, which is ``collect()``'s row converter).
    In between, one JVM function composed at bind time (:class:`_Invoke`)
    unpickles the row, reads it into an internal row
    (``EvaluatePython.makeFromJava``), projects it, converts it back
    (``EvaluatePython.toJava``) and pickles its values with the
    registered pickler: one Py4J call per row.  The projection and the
    pickler keep state, so rows are evaluated under a lock."""

    _serializer = CPickleSerializer()

    def __init__(self, df: DataFrame, schema: T.StructType):
        jvm = df.sparkSession._jvm
        plan = jvm.org.apache.spark.sql.catalyst.optimizer \
            .ReplaceExpressions.apply(df._jdf.queryExecution().analyzed())
        if _node(plan) != "Project":
            raise _Unbound(f"the analyzed select is a {_node(plan)}")
        exprs = plan.projectList()
        for i in range(exprs.size()):
            if not exprs.apply(i).deterministic():
                raise _Unbound(f"{exprs.apply(i).sql()} is nondeterministic")
        relation = plan.child()
        while _node(relation) in ("Project", "SubqueryAlias"):
            relation = relation.child()
        if _node(relation) != "LocalRelation":
            raise _Unbound(f"the select reads a {_node(relation)}")
        projection = jvm.org.apache.spark.sql.catalyst.expressions \
            .InterpretedMutableProjection(exprs, relation.output())
        projection.initialize(0)
        python = jvm.org.apache.spark.sql.execution.python.EvaluatePython
        python.registerPicklers()
        jvm.org.apache.spark.api.python.SerDeUtil.initialize()
        session = df.sparkSession._jsparkSession
        jschema = session.parseDataType(schema.json())
        binary_as_bytes = session.sessionState().conf().pysparkBinaryAsBytes()
        pickle, h = jvm.net.razorvine.pickle, _Invoke(df.sparkSession)
        self._apply = h.function([
            h.virtual(pickle.Unpickler, "loads", f"([B){_OBJECT}",
                      pickle.Unpickler()),
            h.virtual(jvm.scala.Function1, "apply", f"({_OBJECT}){_OBJECT}",
                      python.makeFromJava(jschema).andThen(projection)),
            h.static(python, "toJava", f"({_OBJECT}Lorg/apache/spark/sql/"
                     f"types/DataType;Z){_OBJECT}", df._jdf.schema(),
                     binary_as_bytes),
            # the row's values alone: a pickled row would carry its
            # schema as JSON, parsed again for every row
            h.virtual(jvm.org.apache.spark.sql.catalyst.expressions
                      .GenericRow, "values", f"()[{_OBJECT}"),
            h.virtual(pickle.Pickler, "dumps", f"({_OBJECT})[B",
                      pickle.Pickler(True, False)),
        ]).apply
        self._out = df.schema
        self._schema = schema
        self._verify = _make_type_verifier(schema)
        self._lock = threading.Lock()

    def __call__(self, rows) -> list | None:
        """The served rows; None when a value is not of its declared
        type (``createDataFrame`` would reject it, the VALUES path casts
        it)."""
        try:
            for vals in rows:
                self._verify(vals)
        except (TypeError, ValueError):
            return None
        dumps, loads = self._serializer.dumps, self._serializer.loads
        encoded = [dumps(self._schema.toInternal(vals)) for vals in rows]
        with self._lock:
            out = [self._apply(data) for data in encoded]
        return [self._out.fromInternal(loads(data)) for data in out]


_OBJECT = "Ljava/lang/Object;"


class _Invoke:
    """Public JVM methods as ``java.lang.invoke`` method handles, joined
    into one JVM function, so a Python caller pays one Py4J call for a
    chain of calls."""

    def __init__(self, spark):
        self._gateway = spark.sparkContext._gateway
        self._invoke = spark._jvm.java.lang.invoke
        self._lookup = self._invoke.MethodHandles.publicLookup()

    def _find(self, owner, name: str, descriptor: str, static: bool):
        owner = get_java_class(owner)
        mtype = self._invoke.MethodType.fromMethodDescriptorString(
            descriptor, owner.getClassLoader())
        find = self._lookup.findStatic if static else self._lookup.findVirtual
        return find(owner, name, mtype)

    def static(self, owner, name: str, descriptor: str, *bound):
        """The public static method ``name`` of class ``owner`` (a
        ``JavaClass``) with JVM ``descriptor``; ``bound`` fill its
        parameters after the first."""
        handle = self._find(owner, name, descriptor, static=True)
        args = self._gateway.new_array(self._gateway.jvm.java.lang.Object,
                                       len(bound))
        for i, v in enumerate(bound):
            args[i] = v
        return self._invoke.MethodHandles.insertArguments(handle, 1, args)

    def virtual(self, owner, name: str, descriptor: str, receiver=None):
        """The public instance method ``name`` of class ``owner`` (a
        ``JavaClass``) with JVM ``descriptor``, bound to ``receiver``,
        or called on its argument without one."""
        handle = self._find(owner, name, descriptor, static=False)
        return handle if receiver is None else handle.bindTo(receiver)

    def function(self, handles):
        """One ``java.util.function.Function`` applying ``handles`` (each
        of one parameter) in turn, each to the previous one's result
        (``MethodHandles.filterReturnValue``)."""
        generic = self._invoke.MethodType.genericMethodType(1)
        chain = None
        for handle in handles:
            handle = handle.asType(generic)
            chain = (handle if chain is None else self._invoke.MethodHandles
                     .filterReturnValue(chain, handle))
        return self._invoke.MethodHandleProxies.asInterfaceInstance(
            get_java_class(self._gateway.jvm.java.util.function.Function),
            chain)


def _same(a, b) -> bool:
    """Equal values of equal types, floats bit for bit but a NaN equal to
    a NaN: the template check, stricter than ``==`` on rows (names,
    types, the sign of zero) and NaN-aware."""
    if isinstance(a, (tuple, list)):
        return (type(a) is type(b) and len(a) == len(b)
                and getattr(a, "__fields__", None)
                == getattr(b, "__fields__", None)
                and all(map(_same, a, b)))
    if isinstance(a, float):
        return type(b) is float and (
            a != a and b != b
            or a == b and math.copysign(1.0, a) == math.copysign(1.0, b))
    return type(a) is type(b) and a == b


def _summary(error: Exception) -> str:
    """The error's type and first line; for a Py4J error, the line
    naming the JVM exception."""
    lines = [line.lstrip(": ") for line in str(error).splitlines()
             if line.strip()] or [""]
    java = isinstance(error, Py4JError) and len(lines) > 1
    return f"{type(error).__name__}: {lines[1 if java else 0]}"


def _types(schema: T.StructType) -> list:
    """What a compiled program depends on: column names and types (a
    rendered VALUES relation differs from the batch schema in
    nullability only)."""
    return [(f.name, f.dataType) for f in schema.fields]


def _report(i: int, cls: str, reason: str) -> None:
    log.warning("serving: step %d (%s) leaves the compiled path: %s",
                i, cls, reason)


def _program(pipeline, spark, schema: T.StructType) -> _Program:
    """The pipeline's compiled program for ``schema``, compiled on first
    use and again after any step is refit or replaced."""
    prog = pipeline.__dict__.get(_PROGRAM_ATTR)
    if prog is None or not prog.valid(pipeline.steps, spark, schema):
        prog = _Program(pipeline.steps, spark, schema)
        setattr(pipeline, _PROGRAM_ATTR, prog)
    return prog


def _serve_ann_annotator(op, df: DataFrame) -> DataFrame:
    """ANN stage on the serving path: the
    upstream serving plan is a folded LocalRelation, so ``collect()``
    here is a driver-side expression evaluation — no job; each row's
    vector then probes the in-process :class:`IVFServingReplica`
    (AnnAnnotator.serve_rows → search_batch_local, bit-parity-tested
    against the distributed ``search_batch``), and the local relation
    is rebuilt with the annotation arrays appended, so downstream
    steps keep folding.  Values, column order, and neighbour order are
    identical to the batch transform (parity-tested in
    test_serving.py); a row with no probed hits gets NULL arrays, as
    the batch plan's left join does."""
    rows = df.collect()
    hits = op.serve_rows([(r[op.id_col], r[op.vec_col]) for r in rows])
    id_type = df.schema[op.id_col].dataType
    schema = T.StructType(list(df.schema.fields) + [
        T.StructField(f"{op.out_prefix}_ids", T.ArrayType(id_type)),
        T.StructField(f"{op.out_prefix}_cosines",
                      T.ArrayType(T.DoubleType())),
    ])
    new_rows = [list(r) + [ids or None, cos or None]
                for r, (ids, cos) in zip(rows, hits)]
    return local_rows_df(df.sparkSession, new_rows, schema)


_SERVING_BARRIERS = {"AnnAnnotator": _serve_ann_annotator}


# -- local input construction ---------------------------------------------
#
# ``spark.createDataFrame([row])`` wraps a *Python RDD* (LogicalRDD):
# ConvertToLocalRelation cannot fold over it and every collect() runs a
# distributed job — measured ~270 ms for one row.  An inline ``VALUES``
# table resolves to a true LocalRelation (foldable literals are evaluated
# at ANALYSIS time), the whole serving plan collapses to LocalTableScan,
# and collect() is ~4 ms, job-free.

def _sql_literal(v, dt) -> str:
    if v is None:
        return f"CAST(NULL AS {dt.simpleString()})"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        if v == 0 and math.copysign(1.0, v) < 0:
            # SQL reads -0.0 as a decimal zero, which has no sign
            return "CAST('-0.0' AS DOUBLE)"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, str):
        esc = v.replace("\\", "\\\\").replace("'", "\\'")
        return f"'{esc}'"
    if isinstance(v, datetime.datetime):
        # tz-aware inputs: render the UTC instant (the session timezone
        # is UTC and batch createDataFrame converts to UTC); a naive
        # strftime would store the foreign wall-clock as if it were UTC.
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        base = v.strftime("%Y-%m-%d %H:%M:%S")
        return f"TIMESTAMP '{base}.{v.microsecond:06d}'"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, (bytes, bytearray)):
        return f"X'{bytes(v).hex()}'"
    if isinstance(v, (list, tuple)) and isinstance(dt, T.ArrayType):
        inner = ", ".join(_sql_literal(e, dt.elementType) for e in v)
        return f"array({inner})"
    if isinstance(v, dict) and isinstance(dt, T.MapType):
        parts = []
        for k, val in v.items():
            parts += [_sql_literal(k, dt.keyType),
                      _sql_literal(val, dt.valueType)]
        return f"map({', '.join(parts)})"
    if isinstance(v, Row) and isinstance(dt, T.StructType):
        parts = []
        for f in dt.fields:
            parts += [f"'{f.name}'", _sql_literal(v[f.name], f.dataType)]
        return f"named_struct({', '.join(parts)})"
    raise ValueError(
        f"local_rows_df cannot render {type(v).__name__} as a SQL "
        f"literal for {dt.simpleString()}; use spark.createDataFrame "
        "for this input")


def local_rows_df(spark, rows, schema) -> DataFrame:
    """Build a DataFrame from driver-side rows as an inline VALUES table
    — a true LocalRelation, so serving plans over it fold completely.
    ``rows``: list of Rows / dicts / tuples; ``schema``: the batch
    frame's StructType (every value is CAST to its field type, so
    serving and batch schemas match exactly)."""
    if not rows:
        raise ValueError("local_rows_df needs at least one row")
    rendered = []
    for row in rows:
        if hasattr(row, "asDict"):
            row = row.asDict()
        vals = ([row[f.name] for f in schema.fields]
                if isinstance(row, dict) else list(row))
        cells = [
            f"CAST({_sql_literal(v, f.dataType)} AS {f.dataType.simpleString()})"
            for v, f in zip(vals, schema.fields)]
        rendered.append(f"({', '.join(cells)})")
    names = ", ".join(f"`{f.name}`" for f in schema.fields)
    return spark.sql(
        f"SELECT * FROM VALUES {', '.join(rendered)} AS t({names})")


def serve_rows(pipeline, spark, rows, schema) -> list:
    """Score ``rows`` (Rows, dicts or tuples of ``schema``) through a
    fitted pipeline: Python lookups while the rows are rendered, then the
    compiled select, evaluated by the projection bound on the first
    request (or, where it is not bound, over an inline VALUES relation
    with one collect).  Job-free for every step on the compiled path."""
    prog = _program(pipeline, spark, schema)
    return prog.serve(pipeline, prog.render(rows))


def serving_transform(pipeline, df: DataFrame) -> DataFrame:
    """Transform ``df`` through the pipeline's compiled serving program.
    Results equal ``pipeline.transform`` (parity-tested); over a local
    input the plan folds to a LocalRelation and ``collect()`` launches
    no job.  ``df`` is a small driver-side frame: when it does not carry
    the looked-up columns ``serve_rows`` renders, it is collected and
    rendered again with them."""
    fields = df.schema.fields
    base = T.StructType([f for f in fields if not f.name.startswith(_HIDDEN)])
    spark = df.sparkSession
    prog = _program(pipeline, spark, base)
    if prog.lookups and len(base.fields) == len(fields):
        df = local_rows_df(spark, prog.render(df.collect()),
                           prog.rendered_schema)
    return prog.apply(df)

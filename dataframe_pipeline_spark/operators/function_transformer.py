"""FunctionTransformer — apply a Python function to columns.

Reference: /root/reference/dfpipeline/FunctionTransformer.py (eager path
applies the function elementwise; compiled path walks CPython bytecode and
lowers arithmetic/comparisons/if-else/numpy calls into ONNX operators —
walkBytecode.py:34-130).

Spark-first design — two tiers, chosen automatically per function:

1. **Native Column tier (fast path, JVM codegen).**  The function is simply
   *called with pyspark Column objects*.  Lambdas built from arithmetic,
   comparisons, and the helpers in :mod:`dataframe_pipeline_spark.functions`
   (sqrt/log/floor/...) return a Column — that Column expression IS the
   compiled form, and Catalyst + whole-stage codegen replace the
   reference's bytecode→ONNX compiler entirely.  If calling with Columns
   raises (e.g. ``if col > 5`` truthiness, ``np.sqrt`` ufunc, string
   methods) or returns a non-Column, we try:

1b. **AST compilation** (:mod:`..lambda_compiler`) — the direct analog of
   the reference's bytecode walker: plain ``np.*``/``math.*``/``str``
   lambdas, if/else, ``in``/``is None``, ``split()[i]`` are translated
   to Column expressions (with the reference's log1p/expm1 fusion).

2. **Pandas UDF tier (slow path, Arrow-vectorized).**  Elementwise
   application inside Arrow batches, mirroring the reference's
   ``Series.apply`` / zip loop semantics (DFPBase.py:55-106) without
   row-at-a-time Python serde.

The return type for tier 2 is inferred by running the function on a
1-row sample (or pass ``returns=`` explicitly to avoid the sampling job).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..base import SparkDFPBase, to_spark_type


class FunctionTransformer(SparkDFPBase):
    def __init__(self, inputs=None, outputs=None, func=None, returns=None):
        self.inputs = list(inputs or [])
        self.outputs = list(outputs or [])
        self.func = func
        self.returns = returns  # optional Spark type (or np/py type) for the UDF tier
        self._inferred_type = None

    # -- tier 1: try to build a native Column expression ------------------
    def _try_native(self, cols):
        try:
            res = self.func(*cols)
        except Exception:
            res = None
        if isinstance(res, Column):
            return res
        from ..lambda_compiler import compile_lambda

        return compile_lambda(self.func, cols)

    # -- tier 2: Arrow-vectorized fallback --------------------------------
    def _infer_return_type(self, df: DataFrame, input_cols) -> T.DataType:
        if self.returns is not None:
            return to_spark_type(self.returns)
        if self._inferred_type is None:
            sample = df.select(*input_cols).limit(1).toPandas()
            if len(sample) == 0:
                self._inferred_type = T.DoubleType()
            else:
                args = [sample[c].iloc[0] for c in input_cols]
                out = self.func(*args)
                from ..base import infer_spark_type_of_value

                self._inferred_type = infer_spark_type_of_value(out)
        return self._inferred_type

    def _pandas_udf_col(self, df: DataFrame, input_cols):
        func = self.func
        rtype = self._infer_return_type(df, input_cols)

        if len(input_cols) == 1:
            @F.pandas_udf(rtype)
            def _u(s: pd.Series) -> pd.Series:
                # .apply matches the reference's elementwise Series.apply
                return s.apply(func)
        else:
            @F.pandas_udf(rtype)
            def _u(*series: pd.Series) -> pd.Series:
                return pd.Series([func(*row) for row in zip(*series)])

        return _u(*[F.col(c) for c in input_cols])

    @staticmethod
    def _input_cols(input) -> list:
        return list(input) if isinstance(input, (tuple, list)) else [input]

    def column_exprs(self, view):
        """Native tier only: an output that needs the Arrow UDF tier
        returns None (the UDF's return type is sampled from the frame)."""
        updates = {}
        for input, output in zip(self.inputs, self.outputs):
            native = self._try_native(
                [updates.get(c, view.col(c)) for c in self._input_cols(input)])
            if native is None:
                return None
            updates[output] = native
        return updates

    def transform(self, df: DataFrame) -> DataFrame:
        for input, output in zip(self.inputs, self.outputs):
            cols = self._input_cols(input)
            native = self._try_native([F.col(c) for c in cols])
            df = df.withColumn(output, native if native is not None
                               else self._pandas_udf_col(df, cols))
        return df

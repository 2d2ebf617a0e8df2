"""DataframePipeline — ordered steps with fit/transform over Spark DataFrames.

API parity with the reference driver
(/root/reference/dfpipeline/DataframePipeline.py:306-381): ``steps=`` list,
``append``/``clear``, ``fit``, ``transform``, ``fit_transform``, and the
``input_columns`` / ``input_dtypes`` / ``output_columns`` snapshots.

Execution model difference (deliberate): the reference mutates one pandas
frame step-by-step, eagerly.  Here each step contributes Column expressions
to a single *lazy* Catalyst plan; nothing executes until an action at the
sink.  Steps whose fit-state requires data statistics (encoders, scalers)
trigger their own small aggregate jobs inside ``fit``; transform itself
stays fully lazy.

Reference quirk replicated exactly: ``fit`` (without transform) fits every
step against the *original* input frame — it does NOT thread the transformed
frame through (DataframePipeline.py:322-334).  ``fit_transform`` does thread
it, as the reference does (DataframePipeline.py:359-381): each step fits on
the frame the previous step produced, then transforms it.  No fit is hoisted
onto an earlier frame or merged into another step's job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


class DataframePipeline:
    def __init__(self, steps=None):
        self.steps = list(steps) if steps is not None else []
        self.input_columns = None
        self.input_dtypes = None
        self.output_columns = None
        # Column-lineage table — the reference's SSA-style ``column_info``
        # (/root/reference/dfpipeline/DataframePipeline.py:171-198), which
        # maps each column to the chain of versions steps wrote.  Spark's
        # Catalyst tracks true SSA via attribute ids internally; this
        # surface records the *operator-level* chain — which step classes
        # wrote each output column, in order — for diagnostics and parity.
        # Entries: "<input>" for columns present on the input frame, then
        # one "s<i>:<StepClass>" stamp per step that (re)wrote the column.
        self.column_info: dict[str, list[str]] = {}
        self.new_columns: list[str] = []

    def _record_lineage(self, i, tr, before_cols, after_cols) -> None:
        before = set(before_cols)
        added = [c for c in after_cols if c not in before]
        declared = [c for c in (getattr(tr, "outputs", None) or [])
                    if isinstance(c, str) and c in after_cols]
        stamp = f"s{i}:{type(tr).__name__}"
        for c in dict.fromkeys(added + declared):
            chain = self.column_info.setdefault(
                c, ["<input>"] if c in before else [])
            chain.append(stamp)
            if c not in before and c not in self.new_columns:
                self.new_columns.append(c)

    # -- reference-surface accessors (DataframePipeline.py:170-198) -------
    def num_column_info(self, c: str) -> int:
        i = self.column_info.get(c)
        return 0 if i is None else len(i)

    def get_last_column_info(self, c: str) -> str:
        """Latest lineage stamp for ``c`` (the column name itself when no
        step has written it — names are stable here; the reference's
        fresh-name-per-version bookkeeping is what Catalyst attribute
        ids subsume)."""
        i = self.column_info.get(c)
        return c if not i else i[-1]

    def print_column_info(self) -> None:
        for k, v in self.column_info.items():
            print(k, v)

    def clear(self) -> None:
        self.steps = []

    def append(self, step) -> None:
        self.steps.append(step)

    def fit(self, df: DataFrame, **kwargs) -> "DataframePipeline":
        for i, tr in enumerate(self.steps):
            self.steps[i] = tr.fit(df, **kwargs)
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        X = df
        self.input_columns = list(X.columns)
        self.input_dtypes = {f.name: f.dataType for f in X.schema.fields}
        self.column_info, self.new_columns = {}, []
        for i, tr in enumerate(self.steps):
            before = X.columns
            X = tr.transform(X)
            self._record_lineage(i, tr, before, X.columns)
        self.output_columns = list(X.columns)
        return X

    def fit_transform(self, df: DataFrame, **kwargs) -> DataFrame:
        X = df
        self.input_columns = list(X.columns)
        self.input_dtypes = {f.name: f.dataType for f in X.schema.fields}
        self.column_info, self.new_columns = {}, []
        for i, tr in enumerate(self.steps):
            self.steps[i] = tr = tr.fit(X, **kwargs)
            before = X.columns
            X = tr.transform(X)
            self._record_lineage(i, tr, before, X.columns)
        self.output_columns = list(X.columns)
        return X

    def explain(self, df: DataFrame, mode: str = "formatted") -> None:
        """Show the Catalyst physical plan of the whole fitted pipeline."""
        self.transform(df).explain(mode)

    def serving_transform(self, df: DataFrame) -> DataFrame:
        """Online-scoring transform: identical results to ``transform``
        through the pipeline's compiled serving program (driver-side
        lookups and one select), so the plan over a small local input
        folds to a LocalRelation and ``collect()`` launches no Spark job
        (see serving.py)."""
        from .serving import serving_transform

        return serving_transform(self, df)

    def save(self, path: str) -> None:
        """Persist the fitted pipeline (the reference's ``export`` analog:
        fit once, score anywhere — see persistence.py)."""
        from .persistence import save_pipeline

        save_pipeline(self, path)

    def export(self, ml_model_input_name: str, path: str, ml_models=(),
               with_pre_process: bool = True,
               name: str = "DataframePipeline") -> dict:
        """Reference-compatible export
        (/root/reference/dfpipeline/DataframePipeline.py:109-141): persist
        the FITTED pipeline as a deployable artifact at ``path`` and
        return ``{input_column: dtype}`` for the serving entry point —
        the dict the reference builds for its ONNX graph inputs.

        The artifact here is the pipeline save of persistence.py (nested
        fitted objects round-trip — which the ONNX path cannot do for 5
        of the reference's own operators, SURVEY quirk 8), scored via
        ``load(...)`` + :meth:`serving_transform`; Catalyst codegen
        subsumes the ONNX graph compilation (SURVEY §3).  Grafting
        pre-trained ONNX model graphs (``ml_models``) onto the exported
        artifact is out of scope — pass trained models as pipeline steps
        instead (see models.py).

        ``ml_model_input_name``/``name`` are accepted for signature
        parity; they label graph nodes in the ONNX emitter and have no
        artifact-level meaning here."""
        if ml_models:
            raise NotImplementedError(
                "export(ml_models=...) grafts ONNX model graphs; "
                "attach trained models as pipeline steps (models.py) "
                "and they persist with the pipeline")
        if self.input_columns is None:
            raise ValueError(
                "export() needs a fitted pipeline with recorded input "
                "schema - call fit_transform()/transform() first")
        if with_pre_process:
            self.save(path)
        return {c: self.input_dtypes[c] for c in self.input_columns}

    @classmethod
    def load(cls, spark, path: str) -> "DataframePipeline":
        from .persistence import load_pipeline

        return load_pipeline(spark, path)

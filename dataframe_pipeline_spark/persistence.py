"""Fitted-pipeline persistence — the Spark analog of the reference's
``export`` path (/root/reference/dfpipeline/DataframePipeline.py:109-141).

The reference lowers fitted transformers into an ONNX graph so scoring
can run without refitting.  Here the same contract — *fit once, persist
the learned state, score anywhere* — maps to:

* per-step **config + scalar state** → cloudpickle (ships with pyspark;
  handles lambdas and sklearn objects the same way the reference's
  bytecode compiler / WrapTransformer surface does),
* per-step **held lookup tables** (encoder dictionaries, grouped
  aggregates: :class:`~dataframe_pipeline_spark.base.FittedTable` of at
  most ``SERVING_MAX_ROWS`` rows) → zstd-compressed Arrow IPC bytes
  inside the manifest,
  so saving them runs no Spark job and loading them reads no other file,
* every other fitted **DataFrame** (a lookup table too large to hold,
  checkpointed at fit; an index's cells) → a parquet directory, re-read
  lazily at load.

A table too large for the driver round-trips as a distributed table,
never through a driver-side dict.

Layout::

    <path>/manifest.pkl          ordered step classes + pickled state
                                 (held tables as Arrow IPC bytes)
    <path>/frames/s<i>_f<j>/     one parquet dir per other DataFrame
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.cloudpickle import dumps, loads
from pyspark.sql import DataFrame, SparkSession

from .base import SERVING_CACHE_ATTR, FittedTable


class _DFRef:
    """Placeholder for a DataFrame inside pickled operator state."""

    def __init__(self, step: int, idx: int):
        self.step = step
        self.idx = idx

    def path(self, root: str) -> str:
        return os.path.join(root, "frames", f"s{self.step}_f{self.idx}")


class _Table:
    """Placeholder for a FittedTable: its Arrow IPC stream when held
    (zstd-compressed; the reader reads compressed and uncompressed
    streams alike), else the _DFRef of its frame."""

    def __init__(self, arrow=None, ref: _DFRef | None = None):
        self.ipc = None
        if arrow is not None:
            sink = pa.BufferOutputStream()
            opts = pa.ipc.IpcWriteOptions(compression="zstd")
            with pa.ipc.new_stream(sink, arrow.schema, options=opts) as w:
                w.write_table(arrow)
            self.ipc = sink.getvalue().to_pybytes()
        self.ref = ref

    def restore(self, spark: SparkSession, root: str) -> FittedTable:
        if self.ipc is None:
            return FittedTable(spark, df=_restore(self.ref, spark, root))
        return FittedTable(spark,
                           arrow=pa.ipc.open_stream(self.ipc).read_all())


class _NestedObj:
    """Placeholder for a fitted sub-object inside pickled operator
    state — e.g. the IVFIndex an AnnAnnotator step carries.  Any
    attribute value whose CLASS declares ``_dfp_partition_hints`` is
    decomposed field-by-field (its frames written in their scale
    layout, its ``_dfp_transient`` caches dropped) instead of being
    handed whole to cloudpickle, which would choke on the embedded
    DataFrame / py4j handles."""

    def __init__(self, cls, state):
        self.cls = cls
        self.state = state


def _extract(obj, step: int, sink: list, part_cols=None):
    """Deep-replace DataFrame leaves with _DFRef tokens, collecting
    (frame, partition_cols) pairs.  ``part_cols`` rides down from the
    operator's ``_dfp_partition_hints`` so an index table is written in
    its scale layout (e.g. IVF cells partitioned by ``__list``) and a
    reloaded probe is a partition-pruned scan."""
    if isinstance(obj, FittedTable):
        if obj.held:
            return _Table(arrow=obj.arrow)
        return _Table(ref=_extract(obj.df, step, sink, part_cols))
    if isinstance(obj, DataFrame):
        sink.append((obj, part_cols))
        return _DFRef(step, len(sink) - 1)
    if hasattr(type(obj), "_dfp_partition_hints"):
        hints = type(obj)._dfp_partition_hints
        transient = getattr(type(obj), "_dfp_transient", ())
        state = {k: _extract(v, step, sink, part_cols=hints.get(k))
                 for k, v in vars(obj).items() if k not in transient}
        return _NestedObj(type(obj), state)
    if isinstance(obj, dict):
        return {k: _extract(v, step, sink, part_cols) for k, v in obj.items()}
    if isinstance(obj, list):
        return [_extract(v, step, sink, part_cols) for v in obj]
    if isinstance(obj, tuple):
        return tuple(_extract(v, step, sink, part_cols) for v in obj)
    return obj


def _restore(obj, spark: SparkSession, root: str):
    if isinstance(obj, _DFRef):
        return spark.read.parquet(obj.path(root))
    if isinstance(obj, _Table):
        return obj.restore(spark, root)
    if isinstance(obj, _NestedObj):
        inst = obj.cls.__new__(obj.cls)
        inst.__dict__.update(_restore(obj.state, spark, root))
        for name in getattr(obj.cls, "_dfp_transient", ()):
            inst.__dict__.setdefault(name, None)
        return inst
    if isinstance(obj, dict):
        return {k: _restore(v, spark, root) for k, v in obj.items()}
    if isinstance(obj, list):
        return [_restore(v, spark, root) for v in obj]
    if isinstance(obj, tuple):
        return tuple(_restore(v, spark, root) for v in obj)
    return obj


def save_pipeline(pipe, path: str) -> None:
    """Persist a fitted DataframePipeline (or a bare list of steps)."""
    steps = getattr(pipe, "steps", pipe)
    manifest = []
    for i, step in enumerate(steps):
        frames: list = []
        hints = getattr(step, "_dfp_partition_hints", {})
        # Drop the serving tier's compiled lookups: they are a pure
        # derivation of the fitted lookup tables (and the compiled
        # program on the pipeline object is never saved either); the
        # first serving call after load rebuilds them.
        # Likewise drop the step's own ``_dfp_transient`` attrs (not just
        # nested sub-objects'): a top-level IVFIndex saved via
        # save_operator must not pickle its driver-resident serving
        # replica — a reloaded index whose parquet cells were later
        # extended by append_write would otherwise serve the stale
        # pre-append corpus from the pickled replica while search_batch
        # sees the appended vectors.  Transients rebuild lazily on load.
        transient = set(getattr(type(step), "_dfp_transient", ()))
        transient.add(SERVING_CACHE_ATTR)
        state = {
            k: _extract(v, i, frames, part_cols=hints.get(k))
            for k, v in vars(step).items()
            if k not in transient
        }
        for j, (df, part_cols) in enumerate(frames):
            w = df.write.mode("overwrite")
            if part_cols:
                w = w.partitionBy(*part_cols)
            w.parquet(_DFRef(i, j).path(path))
        manifest.append((type(step), state))
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "manifest.pkl"), "wb") as f:
        f.write(dumps(manifest))


def _load_steps(spark: SparkSession, path: str) -> list:
    with open(os.path.join(path, "manifest.pkl"), "rb") as f:
        manifest = loads(f.read())
    steps = []
    for cls, state in manifest:
        step = cls.__new__(cls)
        step.__dict__.update(_restore(state, spark, path))
        for name in getattr(cls, "_dfp_transient", ()):
            step.__dict__.setdefault(name, None)
        steps.append(step)
    return steps


def load_pipeline(spark: SparkSession, path: str):
    """Reload a fitted pipeline: held lookup tables come back from the
    manifest, other fitted frames as lazy parquet scans."""
    from .pipeline import DataframePipeline

    return DataframePipeline(steps=_load_steps(spark, path))


def save_operator(op, path: str) -> None:
    """Persist one fitted operator/index (same layout as a 1-step
    pipeline).  Operators with a ``_dfp_partition_hints`` class attr
    (IVFIndex cells by ``__list``, HyperplaneLSHIndex by ``__bucket``)
    get their fitted tables written in that partition layout, so a
    reloaded probe scans only the probed partitions."""
    save_pipeline([op], path)


def load_operator(spark: SparkSession, path: str):
    """Reload a single fitted operator/index saved by save_operator."""
    (step,) = _load_steps(spark, path)
    return step

"""Composed frequency sketches with engine-independent determinism.

The approximate tiers elsewhere in the package use Spark's BUILT-IN
sketches (HLL++ for distinct counts, KLL/approx_percentile for
quantiles) whose exact estimates are implementation-defined — their
oracle twins replay fitted literals.  This module is the complementary
shape: a Count-Min Sketch COMPOSED from plain relational algebra and
md5-derived hashes, so the whole sketch — build, collision behavior,
estimates — is bit-identical in any engine and the DuckDB oracle
re-derives it from scratch (no literal replay, no rows-only downgrade).

Scale design: the sketch table is at most ``depth × width`` rows
(4 × 1024 default — independent of data size), built by ONE groupBy
over (row, col) pairs that are computed per input row inside
whole-stage codegen.  Estimating a probe set joins the (tiny,
broadcastable) sketch — the input data is scanned exactly once at
build, never at estimate time.  This is the update-less batch form of
the streaming heavy-hitter pattern; the sketch table is what you
persist per corpus snapshot and UNION-merge across batches (CMS is
linear: cell-wise sum of two sketches = sketch of the union).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import h32_expr


class CountMinSketch:
    """CMS over a key column: ``depth`` independent md5-derived hash
    rows × ``width`` counters; ``estimate = min_i cell[i, h_i(key)]``
    — always >= the true count, with overestimate bounded by
    ``2n/width`` at 1 - (1/2)^depth confidence (Cormode & Muthukrishnan
    2005)."""

    def __init__(self, depth: int = 4, width: int = 1024):
        if depth < 1 or width < 2:
            raise ValueError("need depth >= 1 and width >= 2")
        self.depth = depth
        self.width = width

    def _cell(self, i: int, key_expr: str) -> str:
        """SQL for hash row i's column index of a key expression."""
        seeded = h32_expr(f"concat('{i}:', {key_expr})")
        return f"({seeded} % {self.width})"

    def build(self, df: DataFrame, col: str) -> DataFrame:
        """The sketch table: (__row, __col, __cnt), <= depth*width rows.
        NULL keys are skipped (SQL aggregation convention).  The input
        is spread first: the depth md5 hashes per row are map-stage CPU
        ahead of the (tiny) count shuffle, and a few-split file would
        serialize them (no-op at real scale)."""
        from .dedup import spread

        cells = ", ".join(
            f"named_struct('r', {i}, 'c', {self._cell(i, col)})"
            for i in range(self.depth))
        return (spread(df).filter(F.col(col).isNotNull())
                .select(F.explode(F.expr(f"array({cells})")).alias("__s"))
                .groupBy(F.col("__s.r").alias("__row"),
                         F.col("__s.c").alias("__col"))
                .agg(F.count(F.lit(1)).alias("__cnt")))

    def estimate(self, sketch: DataFrame, probes: list) -> DataFrame:
        """(key, est) for each literal probe value: joins the probe
        set's (row, col) cells against the sketch and takes the
        per-key min — a broadcast join of two tiny frames, the source
        data is never touched."""
        spark = sketch.sparkSession
        vals = ", ".join(
            "(" + ("'" + str(p).replace("'", "''") + "'"
                   if isinstance(p, str) else str(p)) + ")"
            for p in probes)
        probe_df = spark.sql(f"SELECT * FROM VALUES {vals} AS t(key)")
        cells = ", ".join(
            f"named_struct('r', {i}, 'c', {self._cell(i, 'key')})"
            for i in range(self.depth))
        pc = probe_df.select(
            "key", F.explode(F.expr(f"array({cells})")).alias("__s"))
        return (pc.join(sketch,
                        (F.col("__s.r") == F.col("__row"))
                        & (F.col("__s.c") == F.col("__col")),
                        "left")
                .groupBy("key")
                .agg(F.min(F.coalesce(F.col("__cnt"), F.lit(0)))
                     .alias("est")))

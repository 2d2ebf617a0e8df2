"""Similarity search over embedding columns.

Beyond-reference surface: brute-force cosine top-k (the exactness
baseline) and a random-hyperplane LSH-bucketed approximate variant (the
scale path).  Embeddings are integer-quantized (``round(x*scale)``) so
dot products and norms are exact integer sums — reduction-order
independent, engine-portable, and the same storage trick int8-quantized
ANN indexes use at scale.

Scale design: top-k uses ``orderBy(...).limit(k)`` which Spark executes
as a TakeOrderedAndProject — each partition keeps a local k-heap and
only k rows per partition reach the driver-side merge; no global sort,
no single-partition window.  The LSH variant prunes the candidate set
to one bucket before scoring (buckets are a cheap per-row signature, so
the index "build" is a projection, and bucket probing is a semi-join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .base import cheap_row_count, release_checkpoint, tracked_checkpoint
from .dedup import QuantizedCosineDeduplicator, spread


class CosineTopK:
    """Exact brute-force cosine top-k against one query vector."""

    def __init__(self, k: int = 10, scale: int = 1000):
        self.k = k
        self.scale = scale

    def _prep(self, df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
        q = (f"transform({vec_col}, x -> "
             f"cast(round(cast(x as double) * {self.scale}) as bigint))")
        return (
            spread(df)   # per-row dot products are map-stage CPU
            .select(F.col(id_col).alias(id_col), F.expr(q).alias("__q"))
            .withColumn("__nrm",
                        F.expr("sqrt(aggregate(__q, 0L, (acc, x) -> acc + x*x))"))
        )

    def search(self, df: DataFrame, query_id, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
        """Top-k neighbors of the in-table vector ``query_id``.

        The 1-row query side is broadcast; the scan side streams through
        codegen computing one integer dot product per row.
        """
        prepped = self._prep(df, id_col, vec_col)
        qrow = (prepped.filter(F.col(id_col) == query_id)
                .select(F.col("__q").alias("__qq"), F.col("__nrm").alias("__qn")))
        dot = "aggregate(zip_with(__q, __qq, (x, y) -> x*y), 0L, (acc, v) -> acc + v)"
        return (
            prepped.filter(F.col(id_col) != query_id)
            .crossJoin(F.broadcast(qrow))
            .withColumn("cosine",
                        F.round(F.expr(dot) / (F.col("__nrm") * F.col("__qn")), 6))
            .select(id_col, "cosine")
            .orderBy(F.desc("cosine"), F.asc(id_col))
            .limit(self.k)
        )


def quantize_centroid(vec, scale: int = 1000) -> list[int]:
    """Round-half-away-from-zero integer quantization (the same rule
    Spark's ``round()`` and DuckDB's ``round()`` apply), used only for
    the driver-side centroid literals — both engines then consume the
    identical integer constants."""
    import math

    return [int(math.floor(abs(float(x)) * scale + 0.5))
            * (1 if float(x) >= 0 else -1) for x in vec]


def collect_vectors(sample: DataFrame, id_col: str,
                    vec_col: str = "__arr") -> list:
    """id-ordered driver-side vector sample via Arrow ``toPandas`` —
    ~2x faster than row ``collect()`` for array columns (no per-row
    pickling), bit-identical float64 values, same deterministic order.
    Shared by every bounded-sample trainer (IVF/PQ/IVFPQ/SemDeDup)."""
    pdf = sample.orderBy(id_col).toPandas()
    return [list(v) for v in pdf[vec_col]]


# the PQ/IVFPQ encode passes are CPU-heavy (~2k interpreted HOF ops per
# row): a single-row-group parquet reads as ONE partition, serializing
# the encode on one core — spread() is a no-op at real scale where the
# scan already carries more partitions than cores
spread_for_cpu = spread


class VectorNormalizer:
    """L2-normalize an embedding column — the prerequisite for treating
    dot product as cosine downstream (ANN indexes, centroid assignment,
    near-dup thresholds all assume unit vectors).

    Exactness contract like the rest of this module: the norm is
    computed over integer-quantized components (``round(x*scale)``) so
    it is a reduction-order-independent integer sum both engines agree
    on; each output component is ``round(q_i / nrm, 6)``.  Map-only
    codegen — no shuffle, no UDF, streams at scan speed.
    """

    def __init__(self, scale: int = 1000):
        self.scale = scale

    def transform(self, df: DataFrame, vec_col: str = "embedding",
                  out_col: str = "vec_norm") -> DataFrame:
        # LET-bind the quantized array and the norm scalar via
        # 1-element transform lambdas: writing `nrm` textually inside
        # the per-element lambda makes Catalyst evaluate the full
        # aggregate() norm once PER COMPONENT (64 whole-array scans per
        # row — measured 65s for 200k vectors at sf1; bound: ~1s).
        q = (f"transform({vec_col}, x -> "
             f"cast(round(cast(x as double) * {self.scale}) as bigint))")
        body = ("transform(array(sqrt(aggregate(q, 0L, (acc, x) -> "
                "acc + x*x))), nrm -> "
                "transform(q, x -> round(x / nrm, 6)))[0]")
        return spread(df).withColumn(
            out_col, F.expr(f"transform(array({q}), q -> {body})[0]"))


class RandomProjector:
    """Johnson-Lindenstrauss random projection: ``in_dim``-dim
    embeddings down to ``out_dim`` dims with a fixed Gaussian matrix —
    the cheap front-end of large-scale similarity pipelines (shrink
    vectors 8× before storing/shuffling; pairwise distances survive to
    within 1±ε by the JL lemma).

    Fit-free and deterministic: the matrix derives from ``seed`` alone
    (numpy ``default_rng``), integer-quantized so every projected
    component is an exact integer dot product — bit-identical across
    engines, partitionings, and replays.  Transform is map-only
    codegen over literal coefficient arrays (the IVF-centroid trick —
    no broadcast, no join, no Python); each output row carries
    ``out_dim`` bigints, so a downstream shuffle moves ~64 B/row
    instead of the 256 B+ full embedding.
    """

    def __init__(self, in_dim: int = 64, out_dim: int = 8,
                 seed: int = 42, scale: int = 1000):
        import numpy as np

        if out_dim < 1 or in_dim < 1:
            raise ValueError("in_dim and out_dim must be positive")
        rng = np.random.default_rng(seed)
        m = rng.normal(0.0, 1.0, (out_dim, in_dim))
        self.in_dim = in_dim
        self.out_dim = out_dim
        self.scale = scale
        self.planes = [quantize_centroid(row, scale) for row in m]

    def transform(self, df: DataFrame, vec_col: str = "embedding",
                  prefix: str = "proj_") -> DataFrame:
        # LET-bind the quantized vector so it is computed ONCE per row:
        # writing `q` textually into each of the out_dim dot products
        # re-quantizes the input per output column (no common-
        # subexpression elimination across separate column
        # expressions) — measured 3x slower at sf1.  All dots evaluate
        # inside one bound lambda producing an array, then project out.
        q = (f"transform({vec_col}, x -> "
             f"cast(round(cast(x as double) * {self.scale}) as bigint))")
        dots = ", ".join(
            f"aggregate(zip_with(q, array("
            + ", ".join(f"{c}L" for c in w)
            + "), (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
            for w in self.planes)
        bound = F.expr(f"transform(array({q}), q -> array({dots}))[0]")
        out = spread(df).withColumn("__dfp_proj", bound)
        out = out.withColumns({
            f"{prefix}{j}": F.col("__dfp_proj")[j]
            for j in range(self.out_dim)})
        return out.drop("__dfp_proj")


def train_centroids(vectors, n_lists: int, iters: int = 10,
                    scale: int = 1000) -> list[list[int]]:
    """Deterministic Lloyd's k-means over an id-ordered float64 sample.

    Init = ``n_lists`` evenly spaced rows of the id-sorted sample; ties
    in assignment break to the lowest cell index (``argmin`` first
    occurrence); an emptied cell keeps its previous centroid.  Pure
    single-threaded numpy — bit-identical on every replay of the same
    sample, which is what lets the SQL oracle be *generated* from the
    same trainer.  Returns integer-quantized centroids.
    """
    import numpy as np

    v = np.asarray(vectors, dtype=np.float64)
    n = len(v)
    k = min(n_lists, n)
    cents = v[[(i * n) // k for i in range(k)]].copy()
    for _ in range(iters):
        d = np.empty((n, k), dtype=np.float64)
        for j in range(k):
            d[:, j] = ((v - cents[j]) ** 2).sum(axis=1)
        assign = d.argmin(axis=1)
        for j in range(k):
            mask = assign == j
            if mask.any():
                cents[j] = v[mask].mean(axis=0)
    return [quantize_centroid(c, scale) for c in cents]


def probe_cells(q_int: list[int], centroids_int: list[list[int]],
                n_probe: int) -> list[int]:
    """The ``n_probe`` cells nearest the (integer-quantized) query
    vector — exact integer distances, ties break to the lower cell id.
    Pure-Python so the Spark driver and the oracle generator run the
    identical computation."""
    d = [(sum((int(x) - int(c)) ** 2 for x, c in zip(q_int, cj)), j)
         for j, cj in enumerate(centroids_int)]
    return [j for _, j in sorted(d)[:n_probe]]


class IVFIndex:
    """IVF (inverted-file) approximate top-k: a coarse quantizer
    partitions vectors into ``n_lists`` cells; a query probes only the
    ``n_probe`` nearest cells and scores exact cosine inside them.

    The standard ANN scale path next to LSH, built the way production
    IVF indexes (FAISS et al.) are: the quantizer is *trained on a
    driver-side sample* (centroids are tiny, n_lists × dim — a fitted
    parameter like any other), then *assignment is distributed* — a
    map-only codegen expression over literal integer centroids, no ML
    library in the apply path.  ``write()`` materializes the assignment
    table partitioned by ``__list`` (the index IS the table at 100 TB);
    a probe over the reloaded index carries a ``__list IN (...)``
    partition filter, so it scans n_probe/n_lists of the data
    (plan-asserted in test_plans.py).

    Determinism: the sample is id-ordered, training is single-threaded
    numpy (``train_centroids``), distances are exact integer sums on
    quantized vectors — so a SQL oracle generated from the same trainer
    replays the index bit-for-bit.
    """

    # persistence layout: the assignment table IS the index — written
    # partitioned by cell id, so a reloaded probe is a partition-pruned
    # scan of n_probe/n_lists of the data (asserted in test_plans.py).
    _dfp_partition_hints = {"_assigned": ("__list",)}
    #: driver-resident serving-replica cache (search_batch_local) —
    #: a pure derivation of the fitted state; dropped at save time and
    #: rebuilt lazily after load (persistence._NestedObj contract).
    #: ``_pinned`` holds the ids of this session's checkpoint blocks.
    _dfp_transient = ("_replica", "_replica_id_col", "_pinned")

    def __init__(self, k: int = 10, n_lists: int = 8, n_probe: int = 2,
                 scale: int = 1000, max_train: int = 65536):
        self.k = k
        self.n_lists = n_lists
        self.n_probe = n_probe
        self.scale = scale
        self.max_train = max_train
        self.centroids_int = None    # list[list[int]]
        self._assigned = None        # DataFrame(id, __q, __nrm, __list)
        self._pinned = []            # RDD ids of the checkpointed _assigned
        self._id_col = None

    def fit(self, df: DataFrame, id_col: str = "vec_id",
            vec_col: str = "embedding"):
        arr = df.select(
            F.col(id_col),
            F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("__arr"),
        )
        # Train on a bounded, deterministic sample (md5-mod of the id —
        # content-addressed, partition-layout independent).  Cardinality
        # comes from parquet footer metadata when the input is a scan
        # (cheap_row_count: no job, no data pass) — at 100 TB the fit
        # must not spend a full scan just to pick the sample modulus.
        n = cheap_row_count(arr)
        sample = arr
        if n > self.max_train:
            mod = -(-n // self.max_train)  # ceil
            sample = arr.filter(F.expr(
                f"conv(substring(md5(cast({id_col} as string)), 1, 8), 16, 10)"
                f" % {mod} = 0"))
        self.centroids_int = train_centroids(
            collect_vectors(sample, id_col), self.n_lists, scale=self.scale)

        self._id_col = id_col
        self.release()
        self._assigned, self._pinned = tracked_checkpoint(
            self._assign(df, id_col, vec_col))
        return self

    def release(self) -> None:
        """Free the cell table pinned by :meth:`fit` or :meth:`append`.
        The blocks are this index's own checkpoint, so releasing never
        uncaches a twin index fitted on the same frame.  A reloaded
        index pins nothing."""
        if self._pinned:
            release_checkpoint(self._assigned.sparkSession, self._pinned)
        self._pinned = []

    def _assign(self, df: DataFrame, id_col: str,
                vec_col: str = "embedding") -> DataFrame:
        """Map-only cell assignment against the FITTED centroid
        literals — shared by fit, and by append (incremental
        maintenance never retrains the quantizer)."""
        assert self.centroids_int is not None, "call fit first"
        cent_lits = ", ".join(
            "array(" + ", ".join(f"{c}L" for c in cj) + ")"
            for cj in self.centroids_int)
        qexpr = (f"transform({vec_col}, x -> "
                 f"cast(round(cast(x as double) * {self.scale}) as bigint))")
        # LET-bind __q inside the centroid-distance lambda and __dists
        # inside the argmin (see PQIndex._encode_expr: withColumn
        # aliases are not a CSE guarantee against CollapseProject), and
        # spread the scan — the assignment is the CPU-heavy map pass
        # that re-runs whenever the cell table is recomputed.
        dists = (f"transform(array(__q), qv -> "
                 f"transform(array({cent_lits}), c -> "
                 f"aggregate(zip_with(qv, c, (x, y) -> (x-y)*(x-y)), 0L, "
                 f"(acc, v) -> acc + v)))[0]")
        lst = ("transform(array(__dists), dd -> "
               "cast(array_position(dd, array_min(dd)) - 1 as int))[0]")
        return (
            spread(df).select(F.col(id_col), F.expr(qexpr).alias("__q"))
            .withColumn("__nrm", F.expr(
                "sqrt(aggregate(__q, 0L, (acc, x) -> acc + x*x))"))
            .withColumn("__dists", F.expr(dists))
            .withColumn("__list", F.expr(lst))
            .drop("__dists")
        )

    def append(self, batch: DataFrame,
               vec_col: str = "embedding") -> "IVFIndex":
        """Incremental maintenance: assign a NEW batch to the fitted
        cells (same literal-centroid codegen as fit — no retrain, no
        corpus rescan) and extend the in-session cell table.  Searches
        immediately see the appended vectors.  FAISS semantics: cell
        boundaries stay frozen; periodic refit is a policy decision
        above this API (recall drifts only if the data distribution
        does)."""
        assert self._assigned is not None, "call fit or read first"
        assigned, pinned = tracked_checkpoint(self._assigned.unionByName(
            self._assign(batch, self._id_col, vec_col)))
        self.release()
        self._assigned, self._pinned = assigned, pinned
        # The driver-resident serving replica (search_batch_local) is a
        # fold of the PRE-append cell table — drop it so the next local
        # probe rebuilds against the extended corpus, preserving the
        # documented bit-parity with search_batch.
        self._replica = None
        return self

    def append_write(self, batch: DataFrame, path: str,
                     vec_col: str = "embedding") -> None:
        """Incremental maintenance of a PERSISTED index (written by
        :meth:`write`): append the batch's assignments into the
        ``__list``-partitioned cell layout — touches only the batch's
        cells, never rewrites the corpus; a subsequent :meth:`read`
        probe partition-prunes over old + new files alike."""
        import os as _os

        assert self.centroids_int is not None, "call fit or read first"
        (self._assign(batch, self._id_col, vec_col)
         .write.mode("append").partitionBy("__list")
         .parquet(_os.path.join(path, "frames", "s0_f0")))

    def search(self, query_id, id_col: str = "vec_id") -> DataFrame:
        assert self._assigned is not None, "call fit first"
        qrow = (self._assigned.filter(F.col(id_col) == query_id)
                .select("__q", "__nrm").head())
        return self._probe(list(qrow["__q"]), float(qrow["__nrm"]),
                           id_col=id_col, exclude_id=query_id)

    def search_vec(self, vec, id_col: str = "vec_id") -> DataFrame:
        """Top-k for an *external* query vector — the serving path.

        The vector is quantized and probed driver-side (tiny: dim ints
        against n_lists centroids), so the only cluster work is the
        scoring scan — and that scan carries a ``__list IN (...)``
        predicate which, over an index loaded from the partitioned
        layout, becomes a partition-pruned read of n_probe cells.  No
        full-table query-row lookup anywhere."""
        assert self._assigned is not None, "call fit or read first"
        q_int = quantize_centroid(vec, self.scale)
        nrm = float(sum(x * x for x in q_int)) ** 0.5
        return self._probe(q_int, nrm, id_col=id_col)

    def search_batch(self, queries: DataFrame, q_id_col: str = "qid",
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     exclude_self: bool = False) -> DataFrame:
        """Top-k for a whole TABLE of query vectors — the batch ANN
        join (recommendation backfills, dedup-vs-index sweeps).

        Fully distributed, no per-query driver work: each query row is
        quantized and probed with the same literal-centroid codegen the
        assignment uses (its ``n_probe`` nearest cells come from one
        sorted-struct slice — ties to the lower cell id, identical to
        the driver-side ``probe_cells``), exploded to (query, cell)
        pairs, and equi-joined against the cell table on ``__list`` —
        over a disk-loaded index that join is partition-pruned to the
        probed cells.  Per-query top-k is a rank-limit window (bounded
        heaps via WindowGroupLimit), never a global sort.

        Cost at scale: |Q| × n_probe join rows against n_probe/n_lists
        of the index — the same work ``search_vec`` does once, batched
        through one shuffle instead of |Q| driver round-trips.
        """
        assert self._assigned is not None, "call fit or read first"
        from pyspark.sql.window import Window

        n_lists = len(self.centroids_int)
        cent_lits = ", ".join(
            "array(" + ", ".join(f"{c}L" for c in cj) + ")"
            for cj in self.centroids_int)
        qexpr = (f"transform({vec_col}, x -> "
                 f"cast(round(cast(x as double) * {self.scale}) as bigint))")
        dists = (f"transform(array({cent_lits}), c -> "
                 f"aggregate(zip_with(__qq, c, (x, y) -> (x-y)*(x-y)), 0L, "
                 f"(acc, v) -> acc + v))")
        lists = (f"transform(slice(array_sort(zip_with({dists}, "
                 f"sequence(0, {n_lists - 1}), "
                 f"(d, i) -> named_struct('d', d, 'i', i))), 1, "
                 f"{self.n_probe}), s -> cast(s.i as int))")
        q = (queries.select(F.col(q_id_col), F.expr(qexpr).alias("__qq"))
             .withColumn("__qn", F.expr(
                 "sqrt(aggregate(__qq, 0L, (acc, x) -> acc + x*x))"))
             .withColumn("__list", F.explode(F.expr(lists))))
        dot = ("aggregate(zip_with(__q, __qq, (x, y) -> x*y), 0L, "
               "(acc, v) -> acc + v)")
        joined = q.join(self._assigned, "__list")
        if exclude_self:
            joined = joined.filter(F.col(q_id_col) != F.col(id_col))
        w = (Window.partitionBy(q_id_col)
             .orderBy(F.desc("cosine"), F.asc(id_col)))
        return (
            joined.withColumn(
                "cosine",
                F.round(F.expr(dot) / (F.col("__nrm") * F.col("__qn")), 6))
            .select(q_id_col, id_col, "cosine")
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= self.k)
            .drop("__rn")
        )

    #: Size gate for :meth:`search_batch_local` — below this many query
    #: rows the replica path wins (measured crossover: a distributed
    #: search_batch plan costs ~0.5-1 s of job launch + shuffle
    #: regardless of |Q|; replica probes cost ~0.5 ms/query, so the
    #: break-even sits around 1-2k queries).  Above the gate the method
    #: refuses — backfills at scale belong on :meth:`search_batch`.
    LOCAL_BATCH_MAX_ROWS = 1024

    def search_batch_local(self, queries, q_id_col: str = "qid",
                           vec_col: str = "embedding",
                           id_col: str = "vec_id",
                           exclude_self: bool = False,
                           max_rows: int | None = None) -> list[tuple]:
        """Replica-backed batch ANN for SMALL query batches: probe each
        query against a driver-resident :class:`IVFServingReplica`
        (built once per index and reused) and return
        ``[(qid, id, cosine), ...]`` — bit-identical values to
        :meth:`search_batch` over the same queries (parity-tested in
        test_similarity.py), with NO Spark job in the scoring path.

        ``queries`` is either a list of ``(qid, vector)`` pairs — the
        serving shape, rows arrive driver-side in a backfill request —
        or a DataFrame, which is then collected under the same gate
        (the collect is the only Spark job, and the scoring still runs
        on the replica).

        Crossover (measured, sf0.001): 100 replica probes ≈ 16 ms vs
        ≈ 700 ms for the distributed batch plan — every per-call Spark
        cost (job launch, LocalRelation analysis) is absent.  Past
        ``LOCAL_BATCH_MAX_ROWS`` the method raises rather than
        silently folding an unbounded batch onto the driver — use
        :meth:`search_batch`, whose cell join partition-prunes over a
        written layout."""
        assert self._assigned is not None, "call fit or read first"
        limit = self.LOCAL_BATCH_MAX_ROWS if max_rows is None else max_rows
        if isinstance(queries, DataFrame):
            rows = [(r[0], list(r[1]))
                    for r in queries.select(q_id_col, vec_col)
                    .limit(limit + 1).collect()]
        else:
            rows = list(queries)
        if len(rows) > limit:
            raise ValueError(
                f"search_batch_local is gated at {limit} query rows "
                f"(got >{limit}): use search_batch for large backfills")
        if getattr(self, "_replica", None) is None or \
                self._replica_id_col != id_col:
            self._replica = self.serving_replica(id_col=id_col)
            self._replica_id_col = id_col
        out = []
        for qid, vec in rows:
            hits = self._replica.search_vec(
                list(vec), exclude_id=qid if exclude_self else None)
            out.extend((qid, i, c) for i, c in hits)
        return out

    def _probe(self, q_int: list, q_nrm: float, id_col: str = "vec_id",
               exclude_id=None) -> DataFrame:
        lists = probe_cells([int(x) for x in q_int], self.centroids_int,
                            self.n_probe)
        dot = "aggregate(zip_with(__q, __qq, (x, y) -> x*y), 0L, (acc, v) -> acc + v)"
        qdf = self._assigned.sparkSession.createDataFrame(
            [([int(x) for x in q_int], q_nrm)],
            "__qq array<bigint>, __qn double")
        scan = self._assigned.filter(F.col("__list").isin(lists))
        if exclude_id is not None:
            scan = scan.filter(F.col(id_col) != exclude_id)
        return (
            scan.crossJoin(F.broadcast(qdf))
            .withColumn("cosine",
                        F.round(F.expr(dot) / (F.col("__nrm") * F.col("__qn")), 6))
            .select(id_col, "cosine")
            .orderBy(F.desc("cosine"), F.asc(id_col))
            .limit(self.k)
        )

    def write(self, path: str) -> None:
        """Persist the fitted index: cells as parquet partitioned by
        ``__list`` plus the fitted parameters (centroids, k, n_probe,
        ...) — the reference's ``export`` contract applied to an index
        (/root/reference/dfpipeline/DataframePipeline.py:109-141)."""
        from .persistence import save_operator

        assert self._assigned is not None, "call fit first"
        save_operator(self, path)

    @classmethod
    def read(cls, spark, path: str) -> "IVFIndex":
        """Reload a fitted index; the cell table comes back as a lazy
        scan of the partitioned layout, so probes are partition-pruned."""
        from .persistence import load_operator

        idx = load_operator(spark, path)
        assert isinstance(idx, cls)
        return idx

    def serving_replica(self, id_col: str | None = None,
                        cells: list[int] | None = None) -> "IVFServingReplica":
        """Materialize an :class:`IVFServingReplica` — the low-latency
        serving shape of this index (see that class's docstring for the
        memory contract).  ``cells`` restricts the replica to a cell
        subset, the sharding unit for fan-out serving at scale."""
        return IVFServingReplica(self, id_col=id_col, cells=cells)


class IVFServingReplica:
    """In-process serving replica of a fitted :class:`IVFIndex`: the
    probed-cell scan folded into driver-resident numpy arrays so a
    single-query ANN probe is a sub-millisecond matmul instead of a
    Spark job — the vector twin of ``serving.py``'s literal-map fold
    for lookup joins (batch plan ≈ 250 ms/request there, compiled
    serving plan ≈ 5 ms; the same gap exists for ANN probes).

    Memory contract (the 100 TB story): a replica holds ONLY the cells
    passed to it — the sharding unit of production IVF serving, where
    each serving node owns a subset of cells and the router (the
    driver-side ``probe_cells``, centroids are tiny) fans the query to
    the owners.  The full-corpus replica built by default here is the
    single-node special case for corpora that fit serving memory
    (quantized vectors are int64 — ~0.5 KB/vector at dim 64); for the
    compressed variant at scale, PQ codes cut that ~64x.

    Exactness: quantization, cell probe, and the integer dot reuse the
    index's own helpers; the 6-dp rounding replays Spark's
    ``round(double, 6)`` (shortest-repr decimal, HALF_UP) and the
    (cosine DESC, id ASC) tie-break is applied on ROUNDED values with
    an error-bounded candidate window, so results are bit-identical to
    ``IVFIndex.search_vec`` (parity-tested in test_similarity.py).
    """

    def __init__(self, index: IVFIndex, id_col: str | None = None,
                 cells: list[int] | None = None):
        import numpy as np

        assert index._assigned is not None, "fit or read the index first"
        self.k = index.k
        self.n_probe = index.n_probe
        self.scale = index.scale
        self.centroids_int = index.centroids_int
        self._id_col = id_col or index._id_col or "vec_id"
        frame = index._assigned
        if cells is not None:
            frame = frame.filter(F.col("__list").isin(list(cells)))
        self._cells: dict[int, tuple] = {}
        for lst, rows in _group_by_cell(frame, self._id_col):
            ids = np.asarray([r[0] for r in rows], dtype=np.int64)
            qs = np.asarray([r[1] for r in rows], dtype=np.int64)
            nrms = np.asarray([r[2] for r in rows], dtype=np.float64)
            self._cells[lst] = (ids, qs, nrms)

    @staticmethod
    def _round6(x: float) -> float:
        """Spark's ``round(double, 6)``: HALF_UP on the shortest-repr
        decimal (BigDecimal.valueOf ≡ Decimal(repr(x)) — both sides
        use shortest-roundtrip formatting)."""
        from decimal import ROUND_HALF_UP, Decimal

        return float(Decimal(repr(float(x)))
                     .quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))

    def search_vec(self, vec, exclude_id=None) -> list[tuple]:
        """Top-k ``(id, cosine)`` for an external query vector — no
        Spark job.  Rounding-boundary care: unrounded order can differ
        from Spark's (rounded DESC, id ASC) inside a 6-dp tie group, so
        the exact-Decimal re-rank runs over every candidate within
        1.01e-6 (a FULL ulp at 6 dp, plus slack) of the k-th unrounded
        cosine — two cosines can round to the same 6-dp value while
        sitting up to 1e-6 apart (one just below the .5 boundary, one
        just above the previous one), so a half-ulp window could
        exclude a candidate that ties the k-th rounded value and wins
        the id tiebreak (ADVICE r8).  Still a bounded tie window, not
        the whole cell."""
        import numpy as np

        q_int = quantize_centroid(vec, self.scale)
        q_nrm = float(sum(x * x for x in q_int)) ** 0.5
        probed = probe_cells(q_int, self.centroids_int, self.n_probe)
        qv = np.asarray(q_int, dtype=np.int64)
        id_parts, cos_parts = [], []
        for cell in probed:
            got = self._cells.get(cell)
            if got is None:
                continue
            ids, qs, nrms = got
            cos = (qs @ qv) / (nrms * q_nrm)
            if exclude_id is not None:
                keep = ids != exclude_id
                ids, cos = ids[keep], cos[keep]
            id_parts.append(ids)
            cos_parts.append(cos)
        if not id_parts:
            return []
        ids = np.concatenate(id_parts)
        cos = np.concatenate(cos_parts)
        if len(cos) > self.k:
            kth = np.partition(cos, len(cos) - self.k)[len(cos) - self.k]
            cand = np.flatnonzero(cos >= kth - 1.01e-6)
        else:
            cand = np.arange(len(cos))
        ranked = sorted(
            ((self._round6(c), int(i))
             for c, i in zip(cos[cand], ids[cand])),
            key=lambda t: (-t[0], t[1]))[:self.k]
        return [(i, c) for c, i in ranked]


def _group_by_cell(assigned: DataFrame, id_col: str):
    """One collect of (id, __q, __nrm, __list), grouped by cell —
    shared by the replica builder; isolated so the collect site is
    greppable (this is a SERVING fold, bounded by the replica's
    documented memory contract, not a compute path)."""
    from itertools import groupby

    rows = (assigned.select(id_col, "__q", "__nrm", "__list")
            .orderBy("__list", id_col).collect())
    for lst, grp in groupby(rows, key=lambda r: r["__list"]):
        yield int(lst), [(r[id_col], list(r["__q"]), float(r["__nrm"]))
                         for r in grp]


class HyperplaneLSHIndex:
    """Approximate top-k: random-hyperplane sign buckets, then exact
    cosine within the query's bucket only.

    Deterministic ±1 hyperplanes (md5-derived, see
    ``QuantizedCosineDeduplicator.hyperplane``) make the approximation
    itself replayable by a SQL oracle.  ``build()`` + ``write()``
    materialize the bucketized table partitioned by ``__bucket``;
    ``search_vec`` over the reloaded index is a partition-pruned scan
    of ~1/2^n_planes of the data (plan-asserted in test_plans.py).
    """

    # persistence layout: bucketized table partitioned by bucket — a
    # reloaded probe scans ~1/2^n_planes of the data (partition-pruned).
    _dfp_partition_hints = {"_index": ("__bucket",)}

    def __init__(self, k: int = 5, n_planes: int = 8, scale: int = 1000,
                 dim: int = 64):
        self.k = k
        self.q = QuantizedCosineDeduplicator(scale=scale, n_planes=n_planes,
                                             dim=dim)
        self._index = None           # DataFrame(id, __q, __nrm, __bucket)
        self._id_col = None

    def bucketize(self, df: DataFrame, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
        """(id, quantized vec, norm, bucket) — the 'index'.

        ``n_planes="auto"`` resolves against the corpus size here (see
        ``QuantizedCosineDeduplicator.planes_for``): bucket count tracks
        n, so probe cost n/2^p stays ~constant as the table grows."""
        self.q._resolve_planes(df)
        out = self.q._quant(df, id_col, vec_col)
        return (
            out.withColumn("__bucket", self.q.bucket_col())
            .withColumnRenamed("__id", id_col)
        )

    def build(self, df: DataFrame, id_col: str = "vec_id",
              vec_col: str = "embedding") -> "HyperplaneLSHIndex":
        """Materialize the bucketized table as the fitted index state
        (the fit-analog); persist it via :meth:`write`."""
        self._index = self.bucketize(df, id_col, vec_col)
        self._id_col = id_col
        return self

    def search_vec(self, vec, id_col: str | None = None) -> DataFrame:
        """Top-k for an external query vector against the built/loaded
        index.  Quantization and bucket assignment happen driver-side
        (dim ints against n_planes sign tests), so the scoring scan
        carries a ``__bucket = <literal>`` predicate — over the
        partitioned layout, a partition-pruned read of ONE bucket."""
        assert self._index is not None, "call build or read first"
        id_col = id_col or self._id_col
        q_int = quantize_centroid(vec, self.q.scale)
        bucket = 0
        for j in range(self.q.n_planes):
            w = self.q.hyperplane(j)
            if sum(c * x for c, x in zip(w, q_int)) >= 0:
                bucket |= 1 << j
        nrm = float(sum(x * x for x in q_int)) ** 0.5
        qdf = self._index.sparkSession.createDataFrame(
            [(q_int, nrm)], "__qq array<bigint>, __qn double")
        dot = "aggregate(zip_with(__q, __qq, (x, y) -> x*y), 0L, (acc, v) -> acc + v)"
        return (
            self._index.filter(F.col("__bucket") == bucket)
            .crossJoin(F.broadcast(qdf))
            .withColumn("cosine",
                        F.round(F.expr(dot) / (F.col("__nrm") * F.col("__qn")), 6))
            .select(id_col, "cosine")
            .orderBy(F.desc("cosine"), F.asc(id_col))
            .limit(self.k)
        )

    def write(self, path: str) -> None:
        """Persist the built index partitioned by ``__bucket``."""
        from .persistence import save_operator

        assert self._index is not None, "call build first"
        save_operator(self, path)

    @classmethod
    def read(cls, spark, path: str) -> "HyperplaneLSHIndex":
        from .persistence import load_operator

        idx = load_operator(spark, path)
        assert isinstance(idx, cls)
        return idx

    def search(self, df: DataFrame, query_id, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
        idx = self.bucketize(df, id_col, vec_col)
        qrow = (idx.filter(F.col(id_col) == query_id)
                .select(F.col("__q").alias("__qq"), F.col("__nrm").alias("__qn"),
                        F.col("__bucket").alias("__qb")))
        dot = "aggregate(zip_with(__q, __qq, (x, y) -> x*y), 0L, (acc, v) -> acc + v)"
        return (
            idx.filter(F.col(id_col) != query_id)
            .crossJoin(F.broadcast(qrow))
            .filter(F.col("__bucket") == F.col("__qb"))
            .withColumn("cosine",
                        F.round(F.expr(dot) / (F.col("__nrm") * F.col("__qn")), 6))
            .select(id_col, "cosine")
            .orderBy(F.desc("cosine"), F.asc(id_col))
            .limit(self.k)
        )


def label_centroids(df: DataFrame, vec_col: str = "embedding",
                    label_col: str = "label") -> DataFrame:
    """Per-label mean vector in long form: (label, pos, centroid) —
    the class-centroid step of prototype classifiers, cluster summaries,
    and IVF-style coarse quantizer refreshes.

    Plan: ``posexplode`` the vector then ONE hash aggregate on
    (label, pos).  The explode is a 64x row expansion, but partial
    (map-side) aggregation collapses each partition to at most
    n_labels x dim partial sums before the exchange, so the shuffle
    carries ~n_labels x dim x n_partitions rows regardless of input
    size — the explode never crosses the wire.  Long form keeps the
    aggregate partial-friendly; reassemble with ``array_agg`` sorted
    by pos only where a wide array is actually needed."""
    ex = df.select(F.col(label_col).alias("label"),
                   F.posexplode(F.col(vec_col)).alias("pos", "val"))
    return (ex.groupBy("label", "pos")
            .agg(F.avg("val").alias("centroid")))


def recall_at_k(approx: DataFrame, exact: DataFrame,
                id_col: str = "vec_id") -> float:
    """Recall@k of an ANN result against the exact top-k: the fraction
    of ground-truth neighbors the index retrieved.  The operational
    acceptance gate for every ANN deployment — an index without a
    measured recall is an unvalidated approximation.

    Both frames are small top-k results (k rows), so this is a
    driver-side set compare, not a distributed job.
    """
    truth = {r[id_col] for r in exact.select(id_col).collect()}
    if not truth:
        return 1.0
    got = {r[id_col] for r in approx.select(id_col).collect()}
    return len(got & truth) / len(truth)


def ann_recall_report(df: DataFrame, query_ids: list, k: int = 5,
                      index=None, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> list[tuple]:
    """Measure an ANN index's recall@k against brute force over a probe
    set of query ids: returns [(query_id, recall), ...].  Cost is one
    exact scan plus one index probe per query — run it on a SAMPLE of
    queries (the standard acceptance protocol), never the full corpus.
    """
    exact = CosineTopK(k=k)
    out = []
    for qid in query_ids:
        ex = exact.search(df, qid, id_col=id_col, vec_col=vec_col)
        try:                                    # fitted IVF: data bound at fit
            ap = index.search(query_id=qid, id_col=id_col)
        except TypeError:                       # LSH: frame passed per search
            ap = index.search(df, query_id=qid, id_col=id_col,
                              vec_col=vec_col)
        out.append((qid, recall_at_k(ap.limit(k), ex.limit(k), id_col)))
    return out


# ==========================================================================
# Product quantization (PQ)
# ==========================================================================

def train_pq_codebooks(vectors, m: int, k_sub: int, iters: int = 10,
                       scale: int = 1000) -> list[list[list[int]]]:
    """Per-subspace deterministic k-means: slice every sample vector
    into ``m`` contiguous sub-vectors and run :func:`train_centroids`
    independently on each slice.  Returns ``m`` codebooks of ``k_sub``
    integer-quantized codewords each.  Same determinism contract as the
    IVF trainer — id-ordered float64 sample, single-threaded numpy,
    first-occurrence argmin ties — so a SQL oracle generated from this
    trainer replays the fitted codebooks bit-for-bit."""
    dim = len(vectors[0])
    assert dim % m == 0, f"dim {dim} not divisible by m={m}"
    sd = dim // m
    return [
        train_centroids([v[s * sd:(s + 1) * sd] for v in vectors],
                        k_sub, iters=iters, scale=scale)
        for s in range(m)
    ]


def pq_encode_py(q_int: list[int], codebooks) -> list[int]:
    """Pure-Python PQ encode of one quantized vector — the driver/oracle
    twin of the distributed codegen encoder (exact integer distances,
    ties to the lowest code)."""
    sd = len(codebooks[0][0])
    codes = []
    for s, cb in enumerate(codebooks):
        sub = q_int[s * sd:(s + 1) * sd]
        d = [(sum((int(x) - int(c)) ** 2 for x, c in zip(sub, cw)), j)
             for j, cw in enumerate(cb)]
        codes.append(min(d)[1])
    return codes


def pq_adc_tables(q_int: list[int], codebooks) -> list[list[int]]:
    """Asymmetric-distance lookup tables for one query: per subspace,
    the exact integer squared distance from the query's sub-vector to
    every codeword.  m x k_sub ints — tiny, computed driver-side."""
    sd = len(codebooks[0][0])
    return [
        [sum((int(x) - int(c)) ** 2 for x, c in zip(q_int[s * sd:(s + 1) * sd], cw))
         for cw in cb]
        for s, cb in enumerate(codebooks)
    ]


class PQIndex:
    """Product-quantization ANN: each vector is compressed to ``m``
    codebook ids (one byte-scale code per contiguous sub-vector) and
    queries score candidates with asymmetric distance computation (ADC)
    — a per-query lookup table replaces every float arithmetic op.

    THE memory/IO story for vector search at corpus scale (Jegou et
    al., "Product Quantization for Nearest Neighbor Search", TPAMI
    2011 — the scheme under FAISS's IVFPQ): a 64-dim float32 embedding
    is 256 bytes; its PQ code at m=8 is 8 SMALL ints.  At 100 TB of
    raw embeddings the codes table is ~3 TB — the difference between
    an index that fits in cluster page cache and one that doesn't.

    Spark mapping, all scan-shaped:
      * fit    = driver-side codebook training on a bounded
                 content-addressed sample (fitted params, like IVF
                 centroids) + ONE map-only codegen pass encoding every
                 vector (argmin over codeword literals inside a single
                 bound HOF expression — no UDF, no shuffle);
      * search = the m x k_sub ADC tables are computed driver-side from
                 the query and inlined as literals, so scoring is a
                 map-only projection over the codes table followed by
                 ``orderBy().limit(k)`` (TakeOrderedAndProject's
                 per-partition k-heaps).  No join of any kind.

    Distances are exact integer sums end-to-end (quantized vectors,
    quantized codewords), so the approximation itself is replayable by
    a generated DuckDB oracle — same codes, same ADC sums, hash-equal.

    Reference parity note: the reference has no ANN surface; this is
    driver-requested scale infrastructure
    (cf. /root/reference/dfpipeline/DataframePipeline.py:109-141 for
    the fit/export contract the write()/read() pair mirrors).
    """

    #: ids of this session's checkpoint blocks: never saved
    _dfp_transient = ("_pinned",)

    def __init__(self, k: int = 10, m: int = 8, k_sub: int = 16,
                 scale: int = 1000, max_train: int = 65536):
        self.k = k
        self.m = m
        self.k_sub = k_sub
        self.scale = scale
        self.max_train = max_train
        self.codebooks = None        # list[m][k_sub][sub_dim] int
        self._codes = None           # DataFrame(id, __codes array<int>)
        self._pinned = []            # RDD ids of the checkpointed _codes
        self._id_col = None
        self._src = None             # source frame, for search-by-id

    # -- fit ---------------------------------------------------------

    def _encode_expr(self, q_expr: str) -> str:
        """One bound HOF expression computing the full code array:
        zip the m codebook literal arrays with their subspace index,
        slice the quantized vector, argmin exact integer distances.

        Every intermediate is LET-bound via the 1-element ``transform``
        idiom (``transform(array(e), v -> body)[0]`` — see
        VectorNormalizer's CSE note): a plain ``withColumn`` hoist is
        NOT enough because CollapseProject re-inlines a single-use
        alias into the consuming lambda, where the interpreted HOF
        evaluator re-runs it once per codeword — m * k_sub = 128x per
        row (measured 52s at sf1 for 20k rows; lambda-bound: the
        quantization runs once per row and each subspace slice once
        per subspace, bit-identical codes)."""
        sd = len(self.codebooks[0][0])
        cbs = ", ".join(
            "array(" + ", ".join(
                "array(" + ", ".join(f"{c}L" for c in cw) + ")"
                for cw in cb) + ")"
            for cb in self.codebooks)
        dist = ("aggregate(zip_with(sub, c, (x, y) -> (x - y) * (x - y)), "
                "0L, (acc, v) -> acc + v)")
        per_sub = (
            f"transform(array(slice(qv, s * {sd} + 1, {sd})), sub -> "
            f"transform(array(transform(cb, c -> {dist})), "
            f"dd -> cast(array_position(dd, array_min(dd)) - 1 as int))[0]"
            f")[0]")
        return (f"transform(array({q_expr}), qv -> "
                f"zip_with(array({cbs}), sequence(0, {self.m - 1}), "
                f"(cb, s) -> {per_sub}))[0]")

    def fit(self, df: DataFrame, id_col: str = "vec_id",
            vec_col: str = "embedding") -> "PQIndex":
        arr = df.select(
            F.col(id_col),
            F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("__arr"),
        )
        # bounded deterministic sample — identical rule to IVFIndex.fit
        # (content-addressed md5-mod, cardinality from parquet footers)
        n = cheap_row_count(arr)
        sample = arr
        if n > self.max_train:
            mod = -(-n // self.max_train)
            sample = arr.filter(F.expr(
                f"conv(substring(md5(cast({id_col} as string)), 1, 8), 16, 10)"
                f" % {mod} = 0"))
        self.codebooks = train_pq_codebooks(
            collect_vectors(sample, id_col), self.m, self.k_sub,
            scale=self.scale)
        self._id_col = id_col
        self._src = df.select(F.col(id_col), F.col(vec_col))
        qexpr = (f"transform({vec_col}, x -> "
                 f"cast(round(cast(x as double) * {self.scale}) as bigint))")
        self.release()
        self._codes, self._pinned = tracked_checkpoint(
            spread_for_cpu(df)
            .select(F.col(id_col),
                    F.expr(self._encode_expr(qexpr)).alias("__codes")))
        return self

    def release(self) -> None:
        """Free the codes table pinned by :meth:`fit` (see
        :meth:`IVFIndex.release`)."""
        if self._pinned:
            release_checkpoint(self._codes.sparkSession, self._pinned)
        self._pinned = []

    # -- search ------------------------------------------------------

    def _adc_expr(self, tables: list[list[int]]) -> str:
        tbls = ", ".join(
            "array(" + ", ".join(f"{t}L" for t in tbl) + ")"
            for tbl in tables)
        return (f"aggregate(zip_with(__codes, array({tbls}), "
                f"(c, t) -> element_at(t, c + 1)), 0L, "
                f"(acc, v) -> acc + v)")

    def search_vec(self, vec, id_col: str | None = None,
                   exclude_id=None, rerank: int = 0) -> DataFrame:
        """Approximate top-k for an external query vector.

        ADC tables are m x k_sub ints computed driver-side and inlined
        as literals — the distributed plan is a PROJECTION over the
        codes table plus a top-k heap: no join, no shuffle beyond the
        k-row merge.  Returns (id, adc_dist) with exact-integer
        distances (ascending = nearest).

        ``rerank=f > 0`` runs the standard two-stage deployment shape:
        the compressed scan selects a candidate pool of ``k * f`` ids
        by ADC, then ONLY those rows' original vectors are re-scored
        with exact integer cosine (the pool is tiny, so its side of
        the join broadcasts; the big-table side is an equi-join probe,
        never a second full scoring pass).  Returns
        (id, cosine) like the exact searchers — recall approaches
        brute force as f grows while the full-corpus work stays on the
        8-byte codes."""
        assert self._codes is not None, "call fit or read first"
        id_col = id_col or self._id_col
        q_int = quantize_centroid(vec, self.scale)
        tables = pq_adc_tables(q_int, self.codebooks)
        out = self._codes
        if exclude_id is not None:
            out = out.filter(F.col(id_col) != exclude_id)
        adc = (
            out.withColumn("adc_dist", F.expr(self._adc_expr(tables)))
            .select(id_col, "adc_dist")
            .orderBy(F.asc("adc_dist"), F.asc(id_col))
            .limit(self.k * rerank if rerank > 0 else self.k)
        )
        if rerank <= 0:
            return adc
        assert self._src is not None, "rerank needs the source vectors"
        vec_col = self._src.columns[1]
        qlits = ", ".join(f"{x}L" for x in q_int)
        qnrm = float(sum(x * x for x in q_int)) ** 0.5
        dot = (f"aggregate(zip_with("
               f"transform({vec_col}, x -> "
               f"cast(round(cast(x as double) * {self.scale}) as bigint)), "
               f"array({qlits}), (x, y) -> x * y), 0L, (acc, v) -> acc + v)")
        nrm = (f"sqrt(aggregate(transform({vec_col}, x -> "
               f"cast(round(cast(x as double) * {self.scale}) as bigint)), "
               f"0L, (acc, x) -> acc + x * x))")
        return (
            self._src.join(F.broadcast(adc.select(id_col)), id_col)
            .withColumn("cosine",
                        F.round(F.expr(dot) / (F.expr(nrm) * F.lit(qnrm)), 6))
            .select(id_col, "cosine")
            .orderBy(F.desc("cosine"), F.asc(id_col))
            .limit(self.k)
        )

    def search(self, query_id, id_col: str | None = None,
               rerank: int = 0) -> DataFrame:
        """Top-k for an in-table vector: one 1-row driver lookup of the
        ORIGINAL vector (the codes table alone cannot reconstruct the
        query exactly), then the same literal-table ADC scan."""
        assert self._src is not None, "call fit first"
        id_col = id_col or self._id_col
        vec_col = self._src.columns[1]
        row = self._src.filter(F.col(id_col) == query_id).head()
        return self.search_vec(list(row[vec_col]), id_col=id_col,
                               exclude_id=query_id, rerank=rerank)

    # -- persistence -------------------------------------------------

    def write(self, path: str) -> None:
        """Persist codebooks + the codes table (the compressed index —
        the ~3 TB artifact standing in for 100 TB of raw vectors)."""
        from .persistence import save_operator

        assert self._codes is not None, "call fit first"
        src, self._src = self._src, None   # raw vectors are NOT the index
        try:
            save_operator(self, path)
        finally:
            self._src = src

    def serving_replica(self, id_col: str | None = None) -> "PQServingReplica":
        """Materialize a :class:`PQServingReplica` — the COMPRESSED
        low-latency serving shape (m bytes/vector of codes instead of
        the raw quantized vectors)."""
        return PQServingReplica(self, id_col=id_col)

    @classmethod
    def read(cls, spark, path: str) -> "PQIndex":
        from .persistence import load_operator

        idx = load_operator(spark, path)
        assert isinstance(idx, cls)
        return idx


class PQServingReplica:
    """Compressed in-process serving replica of a fitted
    :class:`PQIndex`: the codes table folded to an (n, m) int matrix —
    m bytes/vector at storage (8 at the default), so even a 100 TB raw
    corpus's replica is a few GB and fits ONE serving node where the
    raw-vector :class:`IVFServingReplica` would need sharding.  ADC is
    exact integer arithmetic end-to-end, so parity with the
    distributed scan needs no rounding window at all — the query's
    lookup tables come from the same ``pq_adc_tables`` helper and the
    (adc ASC, id ASC) order is a pure integer sort."""

    def __init__(self, index: "PQIndex", id_col: str | None = None):
        import numpy as np

        assert index._codes is not None, "fit or read the index first"
        self.k = index.k
        self.scale = index.scale
        self.codebooks = index.codebooks
        self._id_col = id_col or index._id_col or "vec_id"
        rows = index._codes.select(self._id_col, "__codes").collect()
        self._ids = np.asarray([r[0] for r in rows], dtype=np.int64)
        self._codes = np.asarray([list(r[1]) for r in rows],
                                 dtype=np.int64)

    def search_vec(self, vec, exclude_id=None) -> list[tuple]:
        """Top-k ``(id, adc_dist)`` — one numpy table-gather, no Spark
        job; bit-identical to ``PQIndex.search_vec`` (rerank=0)."""
        import numpy as np

        q_int = quantize_centroid(vec, self.scale)
        tables = np.asarray(pq_adc_tables(q_int, self.codebooks),
                            dtype=np.int64)
        ids, codes = self._ids, self._codes
        if exclude_id is not None:
            keep = ids != exclude_id
            ids, codes = ids[keep], codes[keep]
        if len(ids) == 0:
            return []
        dist = tables[np.arange(tables.shape[0])[None, :], codes].sum(axis=1)
        order = np.lexsort((ids, dist))[:self.k]
        return [(int(ids[i]), int(dist[i])) for i in order]


class IVFPQIndex:
    """IVF-PQ: coarse inverted-file cells + product-quantized RESIDUALS
    — the composite that powers billion-vector ANN deployments
    (FAISS ``IVFxx,PQyy``): the coarse quantizer prunes the search to
    ``n_probe`` of ``n_lists`` cells, and within a cell candidates are
    scored from m-byte residual codes via per-cell ADC tables.

    Why residuals: vectors in a cell share their centroid, so encoding
    ``vec - centroid`` spends the codebook's resolution on the part
    that distinguishes cell members — materially better recall than
    plain PQ at the same code size.

    Spark shape, combining this module's two scale stories:
      * fit    = driver-trained coarse centroids + residual codebooks
                 (one bounded sample, all deterministic), then ONE
                 map-only codegen pass emitting (id, __list, __codes);
      * layout = codes table written partitioned by ``__list`` — at
                 100 TB the compressed index is ~3 TB AND a probe reads
                 only n_probe/n_lists of it (partition-pruned scan);
      * search = per-probed-cell ADC tables inlined as literals over a
                 ``__list``-filtered scan, unioned, top-k heap.  No
                 joins; optional exact-cosine rerank like PQIndex.

    All arithmetic is exact integers (quantized vectors, integer
    residuals, integer codewords), so the generated DuckDB oracle
    replays cells, codes, and ADC sums hash-equal.

    Honest recall note: ADC is a LOSSY ranking — on corpora whose
    pairwise distances are nearly uniform (the synthetic testdata's
    spread between the 1st and 50th neighbor is smaller than the PQ
    reconstruction error at m=8/k_sub=16) the compressed ordering is
    noise and ``rerank`` is mandatory; on separable corpora (tight
    clusters, the regime PQ is built for — see
    test_ivfpq_recall_on_separable_corpus) ADC alone recovers the
    true neighbors.  More codewords (k_sub) or finer subspaces
    (larger m) buy precision linearly in code size, exactly the
    FAISS tuning surface.
    """

    _dfp_partition_hints = {"_table": ("__list",)}
    #: ids of this session's checkpoint blocks: never saved
    _dfp_transient = ("_pinned",)

    def __init__(self, k: int = 10, n_lists: int = 8, n_probe: int = 2,
                 m: int = 8, k_sub: int = 16, scale: int = 1000,
                 max_train: int = 65536):
        self.k = k
        self.n_lists = n_lists
        self.n_probe = n_probe
        self.m = m
        self.k_sub = k_sub
        self.scale = scale
        self.max_train = max_train
        self.coarse_int = None       # list[n_lists][dim] int
        self.codebooks = None        # list[m][k_sub][sub_dim] int (residual domain)
        self._table = None           # DataFrame(id, __list, __codes)
        self._pinned = []            # RDD ids of the checkpointed _table
        self._id_col = None
        self._src = None

    def fit(self, df: DataFrame, id_col: str = "vec_id",
            vec_col: str = "embedding") -> "IVFPQIndex":
        arr = df.select(
            F.col(id_col),
            F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("__arr"))
        n = cheap_row_count(arr)
        sample = arr
        if n > self.max_train:
            mod = -(-n // self.max_train)
            sample = arr.filter(F.expr(
                f"conv(substring(md5(cast({id_col} as string)), 1, 8), 16, 10)"
                f" % {mod} = 0"))
        vecs = collect_vectors(sample, id_col)
        self.coarse_int = train_centroids(vecs, self.n_lists,
                                          scale=self.scale)
        # residuals in the QUANTIZED-integer domain: q_int - centroid_int
        # per sample row, assigned with the same argmin rule the
        # distributed encoder uses — exact, so codebooks replay.
        # Batched numpy (one matrix op per cell) instead of a per-sample
        # Python loop: quantize_centroid's round-half-away-from-zero and
        # probe_cells' lowest-cell tie-break are reproduced exactly
        # (np.floor == math.floor on float64; argmin = first occurrence),
        # so the generated oracle stays bit-identical.
        import numpy as np

        v = np.asarray(vecs, dtype=np.float64)
        qv = (np.floor(np.abs(v) * self.scale + 0.5).astype(np.int64)
              * np.where(v >= 0, 1, -1).astype(np.int64))
        cents = np.asarray(self.coarse_int, dtype=np.int64)
        d = np.empty((len(qv), len(cents)), dtype=np.int64)
        for j in range(len(cents)):
            d[:, j] = ((qv - cents[j]) ** 2).sum(axis=1)
        assign = d.argmin(axis=1)
        residuals = (qv - cents[assign]).astype(np.float64).tolist()
        self.codebooks = train_pq_codebooks(residuals, self.m, self.k_sub,
                                            scale=1)
        sd = len(self.codebooks[0][0])
        coarse_lits = ", ".join(
            "array(" + ", ".join(f"{c}L" for c in cj) + ")"
            for cj in self.coarse_int)
        cbs = ", ".join(
            "array(" + ", ".join(
                "array(" + ", ".join(f"{c}L" for c in cw) + ")"
                for cw in cb) + ")"
            for cb in self.codebooks)
        # Every intermediate is LET-bound (1-element transform idiom —
        # see PQIndex._encode_expr): plain withColumn aliases are NOT a
        # CSE guarantee, CollapseProject re-inlines single-use aliases
        # into the consuming lambda where the interpreted HOF evaluator
        # re-runs them per element (the quantization would run 8x per
        # row inside the centroid-distance lambda, the residual 128x
        # inside the per-codeword lambda).
        qexpr = (f"transform({vec_col}, x -> "
                 f"cast(round(cast(x as double) * {self.scale}) as bigint))")
        dists = (f"transform(array(__q), qv -> "
                 f"transform(array({coarse_lits}), c -> "
                 f"aggregate(zip_with(qv, c, (x, y) -> (x-y)*(x-y)), 0L, "
                 f"(acc, v) -> acc + v)))[0]")
        lst = (f"transform(array(__dists), dd -> "
               f"cast(array_position(dd, array_min(dd)) - 1 as int))[0]")
        res = (f"zip_with(__q, element_at(array({coarse_lits}), "
               f"__list + 1), (x, y) -> x - y)")
        cdist = ("aggregate(zip_with(sub, c, (x, y) -> (x - y) * (x - y)), "
                 "0L, (acc, v) -> acc + v)")
        per_sub = (
            f"transform(array(slice(rv, s * {sd} + 1, {sd})), sub -> "
            f"transform(array(transform(cb, c -> {cdist})), "
            f"dd -> cast(array_position(dd, array_min(dd)) - 1 as int))[0]"
            f")[0]")
        codes = (f"transform(array(__res), rv -> "
                 f"zip_with(array({cbs}), sequence(0, {self.m - 1}), "
                 f"(cb, s) -> {per_sub}))[0]")
        self._id_col = id_col
        self._src = df.select(F.col(id_col), F.col(vec_col))
        self.release()
        self._table, self._pinned = tracked_checkpoint(
            spread_for_cpu(df)
            .select(F.col(id_col), F.expr(qexpr).alias("__q"))
            .withColumn("__dists", F.expr(dists))
            .withColumn("__list", F.expr(lst))
            .withColumn("__res", F.expr(res))
            .withColumn("__codes", F.expr(codes))
            .select(F.col(id_col), "__list", "__codes"))
        return self

    def release(self) -> None:
        """Free the codes table pinned by :meth:`fit` (see
        :meth:`IVFIndex.release`)."""
        if self._pinned:
            release_checkpoint(self._table.sparkSession, self._pinned)
        self._pinned = []

    def _adc_expr(self, tables: list[list[int]]) -> str:
        tbls = ", ".join(
            "array(" + ", ".join(f"{t}L" for t in tbl) + ")"
            for tbl in tables)
        return (f"aggregate(zip_with(__codes, array({tbls}), "
                f"(c, t) -> element_at(t, c + 1)), 0L, "
                f"(acc, v) -> acc + v)")

    def search_vec(self, vec, id_col: str | None = None,
                   exclude_id=None, rerank: int = 0) -> DataFrame:
        """Probe the ``n_probe`` nearest cells; each probe is a
        ``__list``-filtered scan (partition-pruned over the persisted
        layout) scored with that cell's residual ADC tables; the union
        feeds one top-k heap.  ``rerank=f`` re-scores the k*f pool
        with exact cosine as in :class:`PQIndex`."""
        assert self._table is not None, "call fit or read first"
        id_col = id_col or self._id_col
        q_int = quantize_centroid(vec, self.scale)
        cells = probe_cells(q_int, self.coarse_int, self.n_probe)
        parts = []
        for cell in cells:
            res_q = [x - c for x, c in zip(q_int, self.coarse_int[cell])]
            tables = pq_adc_tables(res_q, self.codebooks)
            part = self._table.filter(F.col("__list") == cell)
            if exclude_id is not None:
                part = part.filter(F.col(id_col) != exclude_id)
            parts.append(part.withColumn(
                "adc_dist", F.expr(self._adc_expr(tables))))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        adc = (out.select(id_col, "adc_dist")
               .orderBy(F.asc("adc_dist"), F.asc(id_col))
               .limit(self.k * rerank if rerank > 0 else self.k))
        if rerank <= 0:
            return adc
        assert self._src is not None, "rerank needs the source vectors"
        vec_col = self._src.columns[1]
        qlits = ", ".join(f"{x}L" for x in q_int)
        qnrm = float(sum(x * x for x in q_int)) ** 0.5
        dot = (f"aggregate(zip_with("
               f"transform({vec_col}, x -> "
               f"cast(round(cast(x as double) * {self.scale}) as bigint)), "
               f"array({qlits}), (x, y) -> x * y), 0L, (acc, v) -> acc + v)")
        nrm = (f"sqrt(aggregate(transform({vec_col}, x -> "
               f"cast(round(cast(x as double) * {self.scale}) as bigint)), "
               f"0L, (acc, x) -> acc + x * x))")
        return (
            self._src.join(F.broadcast(adc.select(id_col)), id_col)
            .withColumn("cosine",
                        F.round(F.expr(dot) / (F.expr(nrm) * F.lit(qnrm)), 6))
            .select(id_col, "cosine")
            .orderBy(F.desc("cosine"), F.asc(id_col))
            .limit(self.k)
        )

    def search(self, query_id, id_col: str | None = None,
               rerank: int = 0) -> DataFrame:
        assert self._src is not None, "call fit first"
        id_col = id_col or self._id_col
        vec_col = self._src.columns[1]
        row = self._src.filter(F.col(id_col) == query_id).head()
        return self.search_vec(list(row[vec_col]), id_col=id_col,
                               exclude_id=query_id, rerank=rerank)

    def write(self, path: str) -> None:
        """Persist coarse centroids + codebooks + the codes table
        partitioned by ``__list`` (probe = pruned scan)."""
        from .persistence import save_operator

        assert self._table is not None, "call fit first"
        src, self._src = self._src, None
        try:
            save_operator(self, path)
        finally:
            self._src = src

    @classmethod
    def read(cls, spark, path: str) -> "IVFPQIndex":
        from .persistence import load_operator

        idx = load_operator(spark, path)
        assert isinstance(idx, cls)
        return idx

    def serving_replica(self, id_col: str | None = None,
                        cells: list[int] | None = None
                        ) -> "IVFPQServingReplica":
        """Materialize an :class:`IVFPQServingReplica` — compressed
        codes, cell-sharded: the full production serving shape."""
        return IVFPQServingReplica(self, id_col=id_col, cells=cells)


class IVFPQServingReplica:
    """The full production ANN serving shape in miniature: PQ-compressed
    codes (m bytes/vector) sharded BY CELL — a serving node holds only
    the cells it owns (pass ``cells``), the tiny coarse centroids route
    every query driver-side, and a probe is a numpy table-gather over
    n_probe cell matrices.  Exact integers end-to-end (residual ADC
    tables from the index's own ``pq_adc_tables``), so results are
    bit-identical to ``IVFPQIndex.search_vec`` (rerank=0)."""

    def __init__(self, index: "IVFPQIndex", id_col: str | None = None,
                 cells: list[int] | None = None):
        import numpy as np

        assert index._table is not None, "fit or read the index first"
        self.k = index.k
        self.n_probe = index.n_probe
        self.scale = index.scale
        self.coarse_int = index.coarse_int
        self.codebooks = index.codebooks
        self._id_col = id_col or index._id_col or "vec_id"
        frame = index._table
        if cells is not None:
            frame = frame.filter(F.col("__list").isin(list(cells)))
        from itertools import groupby

        rows = (frame.select(self._id_col, "__codes", "__list")
                .orderBy("__list", self._id_col).collect())
        self._cells: dict[int, tuple] = {}
        for lst, grp in groupby(rows, key=lambda r: r["__list"]):
            grp = list(grp)
            ids = np.asarray([r[self._id_col] for r in grp],
                             dtype=np.int64)
            codes = np.asarray([list(r["__codes"]) for r in grp],
                               dtype=np.int64)
            self._cells[int(lst)] = (ids, codes)

    def search_vec(self, vec, exclude_id=None) -> list[tuple]:
        import numpy as np

        q_int = quantize_centroid(vec, self.scale)
        probed = probe_cells(q_int, self.coarse_int, self.n_probe)
        id_parts, dist_parts = [], []
        for cell in probed:
            got = self._cells.get(cell)
            if got is None:
                continue
            ids, codes = got
            res_q = [x - c for x, c in zip(q_int, self.coarse_int[cell])]
            tables = np.asarray(pq_adc_tables(res_q, self.codebooks),
                                dtype=np.int64)
            if exclude_id is not None:
                keep = ids != exclude_id
                ids, codes = ids[keep], codes[keep]
            if len(ids) == 0:
                continue
            id_parts.append(ids)
            dist_parts.append(
                tables[np.arange(tables.shape[0])[None, :], codes]
                .sum(axis=1))
        if not id_parts:
            return []
        ids = np.concatenate(id_parts)
        dist = np.concatenate(dist_parts)
        order = np.lexsort((ids, dist))[:self.k]
        return [(int(ids[i]), int(dist[i])) for i in order]


class AnnAnnotator:
    """Pipeline-embeddable ANN stage (r10, VERDICT r9 #7): annotate
    each row with its top-k approximate nearest neighbours from an IVF
    index fitted on the training corpus — the retrieval step of a
    RAG / dedup-aware / example-selection pipeline as an ordinary
    fit/transform operator, so it composes inside
    :class:`DataframePipeline` next to encoders and scalers.

    ``fit(df)`` trains the IVF index ON THE FITTED CORPUS (the same
    learn-from-training-frame contract as FrequencyEncoder);
    ``transform(df)`` attaches ``nn_ids: array<id>`` and
    ``nn_cosines: array<double>``, ordered (cosine desc, id asc) —
    the DISTRIBUTED plan: `search_batch`'s cell join + per-query
    top-k heaps, correct at any query cardinality.

    The ONLINE path: ``serving.serving_transform`` compiles this step
    to driver-side probes of the in-process
    :class:`IVFServingReplica` (the same replica ``search_batch_local``
    uses, bit-parity-tested against the distributed plan), so a
    pipeline with an ANN stage stays job-free below the serving
    crossover — the vector twin of the driver-side lookups that
    replace lookup joins."""

    #: transform contains a per-query aggregation + join-back — valid
    #: per micro-batch (streaming.annotate_stream / foreachBatch), but
    #: NOT as a plain unbounded stream plan; streaming.score_stream
    #: checks this marker and fails fast with the right pointer.
    _dfp_batch_scoped = True

    def __init__(self, k: int = 5, n_lists: int = 8, n_probe: int = 2,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 out_prefix: str = "nn"):
        self.k = k
        self.n_lists = n_lists
        self.n_probe = n_probe
        self.id_col = id_col
        self.vec_col = vec_col
        self.out_prefix = out_prefix
        self.index: IVFIndex | None = None

    def fit(self, df: DataFrame, **params) -> "AnnAnnotator":
        self.index = IVFIndex(
            k=self.k, n_lists=self.n_lists, n_probe=self.n_probe).fit(
                df, id_col=self.id_col, vec_col=self.vec_col)
        return self

    def fit_transform(self, df: DataFrame) -> DataFrame:
        return self.fit(df).transform(df)

    def transform(self, df: DataFrame) -> DataFrame:
        """Distributed annotation: one `search_batch` cell join, one
        per-qid fold of the top-k rows into ordered arrays, one
        qid-keyed join back onto the input — every step keyed shuffles,
        no collect, correct at fact-scale query frames."""
        assert self.index is not None, "call fit first"
        qid = self.id_col
        corpus_id = self.index._id_col or "vec_id"
        # the query id rides under an alias so it can't collide with
        # the corpus id column (typically the SAME name when the
        # pipeline annotates the corpus frame itself)
        hits = self.index.search_batch(
            df.select(F.col(qid).alias("__qid"), self.vec_col),
            q_id_col="__qid", vec_col=self.vec_col, id_col=corpus_id)
        # sort_array on struct(-cosine, id) replays search order
        # (cosine desc, id asc) without a window
        packed = (
            hits.withColumn(
                "__s", F.struct((-F.col("cosine")).alias("nc"),
                                F.col(corpus_id).alias("i"),
                                F.col("cosine").alias("c")))
            .groupBy("__qid")
            .agg(F.sort_array(F.collect_list("__s")).alias("__ss"))
            .select(F.col("__qid"),
                    F.expr("transform(__ss, s -> s.i)")
                    .alias(f"{self.out_prefix}_ids"),
                    F.expr("transform(__ss, s -> s.c)")
                    .alias(f"{self.out_prefix}_cosines")))
        # Join-back strategy (r11, VERDICT r10 #5 — tried and REVERTED
        # when measured worse): broadcasting `packed` (bounded by one
        # row per input row) removes the input-side qid exchange from
        # the plan, but inserts a compute→collect→broadcast BARRIER
        # that cost more than the exchange it saved — sf1 A/B min-of-5:
        # shuffle join-back 0.949 s vs broadcast 1.047 s.  The ~0.2 s
        # annotate-over-batch delta is this keyed join-back plus the
        # posexplode, a fixed overhead that amortizes with scale
        # (measured 1.03× sim_ann_ivf_batch at sf3).
        return (df.join(packed, df[qid] == packed["__qid"], "left")
                .drop("__qid"))

    def serve_rows(self, rows: list) -> list:
        """Driver-side twin of :meth:`transform` for serving-scale
        inputs: probe the in-process replica per row (no Spark job)
        and return ``(nn_ids, nn_cosines)`` per input row, ordered as
        the distributed plan orders them.  ``rows`` are (id, vector)
        pairs; gated by ``IVFIndex.LOCAL_BATCH_MAX_ROWS`` via
        search_batch_local (same replica cache, same invalidation on
        append)."""
        assert self.index is not None, "call fit first"
        flat = self.index.search_batch_local(
            [(i, list(v)) for i, (_, v) in enumerate(rows)],
            id_col=self.index._id_col or "vec_id")
        per_row: dict[int, list] = {}
        for i, nid, cos in flat:
            per_row.setdefault(i, []).append((nid, cos))
        out = []
        for i in range(len(rows)):
            hits = per_row.get(i, [])
            out.append(([h[0] for h in hits], [h[1] for h in hits]))
        return out

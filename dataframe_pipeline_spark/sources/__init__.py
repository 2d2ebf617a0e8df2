"""Sources & data-prep helpers.

The reference's data loading surface (CSV with forced dtypes / column
subsets, a left join of two frames, row sampling, a positional 3:1
train/test split — see /root/reference/benchmarks/fraud_detection_1/
FraudDetection1.py:86-112) re-expressed Spark-first.

Scale notes: explicit schemas (never ``inferSchema`` — that is a full
extra pass at 100 TB); column subsets via ``select`` so parquet scans
prune (`ReadSchema`) and CSV parsers skip fields; the *positional*
split exists for pandas parity but the scale-correct default is the
deterministic modulo/hash split, which needs no global sort and no
single-partition window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def read_parquet(spark: SparkSession, path: str,
                 columns: list[str] | None = None) -> DataFrame:
    df = spark.read.parquet(path)
    return df.select(*columns) if columns else df


def read_csv(spark: SparkSession, path: str, schema=None,
             columns: list[str] | None = None, **options) -> DataFrame:
    """CSV with an explicit schema (reference: pd.read_csv(dtype=...))."""
    reader = spark.read.option("header", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    df = reader.csv(path, schema=schema) if schema is not None else \
        reader.option("inferSchema", "true").csv(path)
    return df.select(*columns) if columns else df


def read_json(spark: SparkSession, path: str, schema=None,
              columns: list[str] | None = None, **options) -> DataFrame:
    """JSON-lines with an explicit schema (schema inference over JSON is
    a full extra pass — never at 100 TB)."""
    reader = spark.read
    for k, v in options.items():
        reader = reader.option(k, v)
    df = reader.json(path, schema=schema) if schema is not None else reader.json(path)
    return df.select(*columns) if columns else df


def write_csv(df: DataFrame, path: str, mode: str = "overwrite",
              header: bool = True) -> None:
    df.write.option("header", str(header).lower()).mode(mode).csv(path)


def left_enrich(fact: DataFrame, dim: DataFrame,
                on: str | list[str]) -> DataFrame:
    """The reference's data-prep left join (FraudDetection1.py:94):
    fact LEFT JOIN dim, with the dim broadcast so the fact side is
    shuffle-free.  The hint is unconditional because the reference's
    dim is a small lookup, and Catalyst has no size for an in-memory
    dim before execution, so unhinted it would plan a sort-merge join."""
    return fact.join(F.broadcast(dim), on=on, how="left")


def split_mod(df: DataFrame, key: str, modulus: int = 4,
              test_residue: int = 3) -> tuple[DataFrame, DataFrame]:
    """Deterministic, shuffle-free train/test split on a key column.

    The scale-correct analog of the reference's positional 3:1 split:
    every executor can evaluate membership locally.
    """
    is_test = (F.col(key) % modulus) == test_residue
    return df.filter(~is_test), df.filter(is_test)


def split_positional(df: DataFrame, order_by: str,
                     train_frac: float = 0.75) -> tuple[DataFrame, DataFrame]:
    """Positional split for exact pandas-iloc parity (first
    ``train_frac`` of rows in ``order_by`` order).

    Needs a global row numbering — an unavoidable single-partition
    window.  Kept for oracle parity at test scale; use ``split_mod``
    at 100 TB.
    """
    w = Window.orderBy(order_by)
    n = df.count()
    cut = int(n * train_frac)
    ranked = df.withColumn("__rn", F.row_number().over(w))
    train = ranked.filter(F.col("__rn") <= cut).drop("__rn")
    test = ranked.filter(F.col("__rn") > cut).drop("__rn")
    return train, test


def split_by_group(df: DataFrame, group_col: str,
                   test_frac: float = 0.25) -> tuple[DataFrame, DataFrame]:
    """Leakage-safe train/test split: every row of a *group* (user,
    customer, document source, ...) lands on the same side, so features
    learned on train never see a test group's data.

    Membership is content-addressed — ``md5_fraction(group_key) <
    test_frac`` — the same uniform-[0,1) construction as
    :func:`weighted_sample`, so the split is a pure function of the key:
    independent of partitioning, ordering, retries, or cluster size, and
    stable when ``test_frac`` grows (nested test sets).  Map-only: two
    filters over one scan, no shuffle, no RNG state, no group-cardinality
    pass.
    """
    if not 0.0 <= test_frac <= 1.0:
        raise ValueError("test_frac must be in [0, 1]")
    frac = (F.conv(F.substring(F.md5(F.col(group_col).cast("string")), 1, 8),
                   16, 10).cast("double") / F.lit(4294967296.0))
    is_test = frac < F.lit(float(test_frac))
    return df.filter(~is_test), df.filter(is_test)


def sample_rows(df: DataFrame, fraction: float, seed: int = 42) -> DataFrame:
    """Row sampling (reference: df.sample(frac, random_state))."""
    return df.sample(fraction=fraction, seed=seed)


def weighted_sample(df: DataFrame, stratum_col: str, rates: dict[str, float],
                    key: str, default_rate: float = 0.0) -> DataFrame:
    """Deterministic per-stratum sampling — the domain-mixing step of a
    training-data pipeline (keep 50% of domain A, 2% of domain B, ...).

    A row survives iff ``md5_fraction(key) < rate[stratum]``, where
    md5_fraction maps the row key to a uniform [0,1) value (first 8 md5
    hex digits / 2^32).  Content-addressed like every sampler in this
    repo: the kept set is a pure function of the data — independent of
    partitioning, ordering, retries, or cluster size — and the same row
    stays kept when rates only *increase* (nested samples).  Map-only:
    a filter expression, no shuffle, no RNG state.
    """
    # Column API throughout (no SQL-string interpolation): stratum
    # values and column names pass as literals/refs, so quotes or
    # SQL metacharacters in the data can't alter the predicate.
    frac = (F.conv(F.substring(F.md5(F.col(key).cast("string")), 1, 8),
                   16, 10).cast("double") / F.lit(4294967296.0))
    rate = None
    for s, r in sorted(rates.items()):
        cond = F.col(stratum_col) == F.lit(s)
        rate = (F.when(cond, F.lit(float(r))) if rate is None
                else rate.when(cond, F.lit(float(r))))
    default = F.lit(float(default_rate))
    rate = default if rate is None else rate.otherwise(default)
    return df.filter(frac < rate)


def fixed_sample(df: DataFrame, key: str, k: int) -> DataFrame:
    """Deterministic EXACTLY-k uniform sample: the k rows whose md5(key)
    ranks lowest (key itself as tiebreak) — the reservoir-sampling
    replacement for "give me exactly 10k docs, stable across reruns".

    Why not ``sample(fraction)``: a fraction gives a binomial-sized
    result (±√n noise) and depends on partition layout for its seed
    stream.  Here the kept set is a pure function of the data —
    identical under repartitioning, retries, or cluster resize — and
    NESTED for growing k (the top-k' of a larger k' ⊇ top-k).

    Scale shape: ``orderBy(md5, key).limit(k)`` compiles to
    TakeOrderedAndProject — a per-partition k-heap plus a driver merge
    of k rows per partition, never a global sort.  k must therefore be
    driver-merge sized (millions, not billions); above that, take a
    ``weighted_sample`` fraction first and fixed-sample the remainder.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    return (df.orderBy(F.md5(F.col(key).cast("string")), F.col(key))
            .limit(k))


def cap_per_group(df: DataFrame, group_col: str, key: str,
                  k: int) -> DataFrame:
    """Deterministic per-group quota: keep at most ``k`` rows per group
    (domain, source, license bucket...), chosen by md5 order of the row
    key — the curation step that stops one giant domain from dominating
    a training mix.

    Content-addressed like the samplers: the kept set depends only on
    the data, not on partitioning or arrival order (md5 of the key is
    the sort key, with the key itself as tiebreak).  One shuffle on the
    group column; rows beyond the quota are dropped by a rank filter,
    so the window state per group is a single counter — no global sort,
    no driver collection.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    w = (Window.partitionBy(group_col)
         .orderBy(F.md5(F.col(key).cast("string")), F.col(key)))
    return (df.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= k).drop("__rk"))


def temperature_mixture(df: DataFrame, stratum_col: str, key: str,
                        target_rows: int, alpha: float = 0.5,
                        rate_decimals: int = 9) -> DataFrame:
    """Temperature-weighted domain mixing — the data-mixing step of a
    training corpus build: target share of stratum ``s`` is proportional
    to ``count_s ** alpha`` (``alpha=1`` keeps natural proportions,
    ``alpha=0`` gives uniform shares, values in between up-sample small
    domains the way multilingual-LM mixtures do), then each stratum is
    thinned to its share of ``target_rows`` with the same
    content-addressed md5 filter as :func:`weighted_sample`.

    Scale contract: the ONLY aggregation is a per-stratum count — one
    tiny grouped aggregate whose result (one row per domain, dozens in
    practice) is collected driver-side under the package's fit-scalar
    rule; the apply side is a map-only filter with the per-stratum rate
    folded in as a literal CASE.  Rates are rounded to
    ``rate_decimals`` so an independent engine recomputing them (the
    DuckDB oracle) lands on bit-identical literals.
    """
    if target_rows < 0:
        raise ValueError("target_rows must be >= 0")
    counts = {r[0]: r[1]
              for r in df.groupBy(stratum_col).count().collect()}
    weights = {s: float(n) ** alpha for s, n in sorted(counts.items())}
    total_w = sum(weights[s] for s in sorted(weights))
    rates = {
        s: round(min(1.0, target_rows * (weights[s] / total_w) / counts[s]),
                 rate_decimals)
        for s in sorted(counts)}
    return weighted_sample(df, stratum_col, rates, key, default_rate=0.0)


def assign_shards(df: DataFrame, key: str, n_shards: int,
                  shard_col: str = "shard",
                  position_col: str | None = None) -> DataFrame:
    """Deterministic global shuffle + shard assignment — the final
    layout step before writing training shards: every row gets a shard
    in ``[0, n_shards)`` from the md5 of its key (so shards are
    uniformly sized and the assignment is a pure function of the data,
    stable across retries, partitioning, and cluster size), and
    optionally a dense ``position_col`` giving its md5-order rank
    WITHIN the shard — i.e. a reproducible within-shard shuffle order a
    writer can sort by.

    Scale contract: the shard id is map-only; the position is one
    row_number window partitioned by shard — a single shuffle on the
    shard key, which is exactly the repartition a shard writer needs
    anyway (state per partition is one counter).  No global sort, no
    driver collection, no RNG.
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    sid = (F.conv(F.substring(F.md5(F.col(key).cast("string")), 1, 8),
                  16, 10).cast("long") % F.lit(n_shards)).cast("int")
    out = df.withColumn(shard_col, sid)
    if position_col is not None:
        w = (Window.partitionBy(shard_col)
             .orderBy(F.md5(F.col(key).cast("string")), F.col(key)))
        out = out.withColumn(position_col, F.row_number().over(w))
    return out


def salted_join(fact: DataFrame, dim: DataFrame, on: str,
                how: str = "inner", salt: int = 8,
                seed: int = 42) -> DataFrame:
    """Skew-resistant equi-join — delegates to the canonical
    :func:`dataframe_pipeline_spark.relational.salted_join`, which salts
    with a deterministic content-addressed hash (``seed`` is accepted
    for backward compatibility and ignored: a ``rand(seed)`` salt is
    partitioning-dependent and so not stable across retries)."""
    from ..relational import salted_join as _sj
    return _sj(fact, dim, on, how=how, n_salts=salt)


def zorder_key(df: DataFrame, cols: list[str], bits: int = 8,
               out_col: str = "zkey",
               stats: dict[str, tuple[float, float]] | None = None
               ) -> DataFrame:
    """Morton (Z-order) interleave key over 2+ numeric columns — the
    multi-dimensional clustering primitive: sorting by ``out_col`` makes
    parquet row-group min/max footers selective on EVERY participating
    column at once, where a lexicographic sort is selective only on its
    leading column.

    Each column is bucketed to ``bits`` bits with fixed-width bins over
    its [min, max] (one tiny aggregate, collected under the fit-scalar
    rule, or passed in via ``stats`` to skip the job), then bucket bits
    are interleaved round-robin.  Everything after the stats collect is
    a map-only integer-arithmetic expression — JVM codegen, no shuffle,
    no Python.  Bit math is exact, so an independent engine recomputing
    the key (the DuckDB oracle) matches bit-for-bit.
    """
    if len(cols) < 2:
        raise ValueError("zorder_key needs >= 2 columns")
    if not 1 <= bits * len(cols) <= 63:
        raise ValueError("bits * len(cols) must fit in a signed 64-bit key")
    if stats is None:
        aggs = []
        for c in cols:
            aggs += [F.min(F.col(c).cast("double")).alias(f"_mn_{c}"),
                     F.max(F.col(c).cast("double")).alias(f"_mx_{c}")]
        row = df.agg(*aggs).collect()[0]
        stats = {c: (row[f"_mn_{c}"], row[f"_mx_{c}"]) for c in cols}
    k, top = len(cols), (1 << bits) - 1
    buckets = []
    for c in cols:
        mn, mx = stats[c]
        if mn is None or mx is None or mx == mn:
            buckets.append(F.lit(0).cast("long"))
            continue
        # (v - mn) * 2^bits / (mx - mn), floored and clamped — the SAME
        # operation order as the SQL oracle, so floats agree exactly.
        buckets.append(F.least(
            F.lit(top).cast("long"),
            F.floor((F.col(c).cast("double") - F.lit(mn))
                    * F.lit(float(1 << bits)) / F.lit(mx - mn))))
    key = F.lit(0).cast("long")
    for i in range(bits):
        for j, b in enumerate(buckets):
            key = key.bitwiseOR(
                F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)),
                            i * k + j))
    return df.withColumn(out_col, key)


def write_zordered(df: DataFrame, path: str, cols: list[str],
                   bits: int = 8, mode: str = "overwrite") -> None:
    """Z-order-clustered parquet sink: range-partition on the Morton key
    (so files cover disjoint key ranges — balanced output sizes via the
    range sampler) and sort rows inside each partition by it, then drop
    the key.  Readers filtering on ANY of ``cols`` skip row groups via
    parquet min/max footers — the layout a 100 TB table wants when two
    or more columns carry selective predicates."""
    keyed = zorder_key(df, cols, bits=bits, out_col="__zkey")
    (keyed.repartitionByRange(F.col("__zkey"))
     .sortWithinPartitions("__zkey")
     .drop("__zkey")
     .write.mode(mode).parquet(path))


def write_partitioned(df: DataFrame, path: str, partition_by: list[str],
                      mode: str = "overwrite") -> None:
    """Hive-partitioned parquet sink: readers filtering on the partition
    columns scan only matching directories (partition pruning).

    Hash-shuffles on the partition columns before the write so each
    output directory is produced by as few tasks as possible — without
    it every task holds rows of every partition value and a P-partition
    × T-task write emits P×T small files (see ``write_clustered``,
    which additionally sorts within files).  AQE coalescing sizes the
    shuffle output, so file count tracks data volume, not the constant
    task count."""
    (df.repartition(*[F.col(c) for c in partition_by])
       .write.partitionBy(*partition_by).mode(mode).parquet(path))


def write_clustered(df: DataFrame, path: str, partition_by: list[str],
                    cluster_by: list[str],
                    mode: str = "overwrite") -> None:
    """Layout-optimized parquet sink: hive-partition directories on
    ``partition_by`` AND sort rows inside each file on ``cluster_by``,
    so readers get BOTH pruning levels:

    1. directory pruning — a ``partition_by`` filter never opens
       non-matching directories (``PartitionFilters`` in the scan);
    2. row-group skipping — a ``cluster_by`` range filter eliminates
       whole row groups via parquet min/max footers, because sorting
       makes each column chunk's [min,max] interval narrow instead of
       spanning the full value range.

    The pre-write shuffle hashes on ``partition_by`` so each output
    directory is written by as few tasks as possible — without it,
    EVERY task holds rows of every partition value and a P-partition ×
    T-task write emits P×T small files, the classic 100 TB small-files
    failure.  ``sortWithinPartitions`` (not a global ``orderBy``) keeps
    the sort task-local: one shuffle total.
    """
    (df.repartition(*[F.col(c) for c in partition_by])
       .sortWithinPartitions(*(list(partition_by) + list(cluster_by)))
       .write.partitionBy(*partition_by).mode(mode).parquet(path))


def write_bucketed(df: DataFrame, table: str, path: str, bucket_by: str,
                   n_buckets: int = 8, sort_by: str | None = None,
                   mode: str = "overwrite") -> None:
    """Bucketed external table: two tables bucketed on the same key join
    with NO shuffle on either side (co-located sort-merge join) — the
    pre-partitioning strategy for repeated big-big joins at 100 TB."""
    w = (df.write.bucketBy(n_buckets, bucket_by)
         .option("path", path).mode(mode))
    if sort_by:
        w = w.sortBy(sort_by)
    w.format("parquet").saveAsTable(table)


def kfold_assign(df: DataFrame, key: str, k: int,
                 fold_col: str = "fold") -> DataFrame:
    """Deterministic k-fold assignment for cross-validation:
    ``fold = md5_int(key) % k``, content-addressed like every sampler
    in this repo — a pure function of the key, independent of
    partitioning/ordering/retries, leakage-safe when ``key`` is a group
    id (all rows of a group share a fold).  Map-only: one hash
    expression, no shuffle, no RNG state."""
    if k < 2:
        raise ValueError("k must be >= 2")
    h = F.conv(F.substring(F.md5(F.col(key).cast("string")), 1, 8),
               16, 10).cast("bigint")
    return df.withColumn(fold_col, F.pmod(h, F.lit(k)).cast("int"))


def merge_latest(base: DataFrame, updates: DataFrame, key: str | list[str],
                 version_col: str,
                 delete_col: str | None = None) -> DataFrame:
    """Latest-wins snapshot merge (CDC upsert without a table format):
    union the current snapshot with a change batch, keep per key the
    row with the highest ``version_col`` — ties go to the *update* side
    (so re-applying a batch at the same version is idempotent) — and
    optionally drop rows whose winning version has ``delete_col`` true
    (tombstones).

    This is the compaction step of an incremental corpus/feature-store
    pipeline: ``merged = merge_latest(snapshot, changes, ...)`` then
    rewrite the snapshot.  One hash shuffle on the key; the per-key
    state is a single winner row (rank-limit window, bounded heap —
    same WindowGroupLimit path as topk_per_group), so hot keys with
    many updates don't accumulate memory.  A/B'd r12 against the
    aggregate alternative (groupBy(key).agg(max(version) + first(...)
    per column)): the window wins — 0.91 s vs 1.73 s at sf1 orders —
    because the full-row hash-agg buffer re-serializes every column
    per update while WindowGroupLimit filters rows before carrying
    them.  Schemas must match by name
    (``unionByName``); missing columns on either side raise rather
    than silently nulling — schema drift in a merge is a bug upstream.
    """
    keys = [key] if isinstance(key, str) else list(key)
    b = base.withColumn("__src", F.lit(0))
    u = updates.withColumn("__src", F.lit(1))
    w = (Window.partitionBy(*keys)
         .orderBy(F.col(version_col).desc(), F.col("__src").desc()))
    merged = (b.unionByName(u)
              .withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") == 1).drop("__rn", "__src"))
    if delete_col is not None:
        merged = merged.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))).drop(delete_col)
    return merged


def read_orc(spark: SparkSession, path: str,
             columns: list[str] | None = None) -> DataFrame:
    """ORC reader with column-subset pruning — same contract as
    read_parquet (ORC carries the same predicate-pushdown + column
    statistics machinery in Spark's native reader)."""
    df = spark.read.orc(path)
    return df.select(*columns) if columns else df


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).orc(path)


def read_parquet_evolved(spark: SparkSession, path: str | list[str],
                         columns: list[str] | None = None) -> DataFrame:
    """Read parquet written across SCHEMA VERSIONS (columns added over
    time) as one frame: ``mergeSchema`` unions the footers' schemas and
    older files yield NULL for columns they predate.

    Schema merging reads every file footer up front — a metadata pass,
    not a data pass, but at 100 TB with millions of files it is not
    free either; snapshots with a settled schema should read with the
    default single-footer inference and only evolution boundaries pay
    the merge."""
    df = spark.read.option("mergeSchema", "true").parquet(
        *([path] if isinstance(path, str) else path))
    return df.select(*columns) if columns else df


def write_range_sorted(df: DataFrame, path: str, order_by: str | list[str],
                       n_files: int = 8, mode: str = "overwrite") -> None:
    """Globally-ordered parquet export: range-partition on ``order_by``
    (sampled split points → contiguous, non-overlapping key ranges per
    task) then sort within each task — the output is totally ordered
    ACROSS files without ever funnelling data through one partition
    (a bare ``orderBy().write`` followed by coalesce(1) is the
    single-task anti-pattern; ``repartitionByRange`` keeps the sort
    n-way parallel).  The range exchange samples the key distribution,
    so skewed keys still yield balanced files.  Readers get both file-
    level min/max elimination and row-group skipping on the sort key.
    """
    cols = [order_by] if isinstance(order_by, str) else list(order_by)
    (df.repartitionByRange(n_files, *[F.col(c) for c in cols])
       .sortWithinPartitions(*cols)
       .write.mode(mode).parquet(path))


def snapshot_diff(old: DataFrame, new: DataFrame, key: str | list[str],
                  compare: list[str] | None = None) -> DataFrame:
    """Classify rows between two snapshot versions: one row per key
    present in either side, labeled ``added`` / ``removed`` /
    ``changed`` / ``unchanged`` — the audit step before applying a
    CDC batch (:func:`merge_latest`) and the regression gate after
    rewriting a corpus.

    One full outer join on the key (single co-partitioned shuffle
    pair); change detection compares ``compare`` columns (default:
    every shared non-key column) with NULL-safe equality (``<=>`` —
    NULL==NULL is *unchanged*, NULL vs value is *changed*).
    """
    keys = [key] if isinstance(key, str) else list(key)
    if compare is None:
        shared = [c for c in old.columns if c in set(new.columns)]
        compare = [c for c in shared if c not in keys]
    # String-qualified refs (F.col("o.k")), not frame attributes: both
    # sides routinely derive from the SAME scan (snapshot vs mutated
    # snapshot) and attribute references would be ambiguous self-join
    # lineage.
    o = old.select(*keys, *compare,
                   F.lit(True).alias("__in_old")).alias("__dfp_o")
    n = new.select(*keys, *compare,
                   F.lit(True).alias("__in_new")).alias("__dfp_n")
    oc = lambda c: F.col(f"__dfp_o.{c}")
    nc = lambda c: F.col(f"__dfp_n.{c}")
    cond = [oc(k).eqNullSafe(nc(k)) for k in keys]
    for c in cond[1:]:
        cond[0] = cond[0] & c
    j = o.join(n, cond[0], "full_outer")
    # presence markers, not key-NULL tests: a genuinely NULL key on
    # either side must not read as "absent"
    in_old = oc("__in_old").isNotNull()
    in_new = nc("__in_new").isNotNull()
    same = F.lit(True)
    for c in compare:
        same = same & oc(c).eqNullSafe(nc(c))
    status = (F.when(~in_old, F.lit("added"))
              .when(~in_new, F.lit("removed"))
              .when(same, F.lit("unchanged"))
              .otherwise(F.lit("changed")))
    key_cols = [F.coalesce(oc(k), nc(k)).alias(k) for k in keys]
    return j.select(*key_cols, status.alias("status"))


def split_temporal(df: DataFrame, ts_col: str, cutoff,
                   embargo: str | None = None
                   ) -> tuple[DataFrame, DataFrame]:
    """Time-based train/test split with an optional embargo gap:
    train = rows strictly before ``cutoff - embargo``, test = rows at
    or after ``cutoff``.  The embargo drops the boundary window from
    TRAIN (test stays complete), so features with lookback windows
    (rolling counts, session stats) computed on train never overlap
    test time — the purged split of financial-ML practice.

    Map-only: two filters over one scan, no shuffle; with the data
    laid out by date (write_clustered / hive partitions) both sides
    partition-prune their scans.
    """
    cut = F.lit(cutoff).cast("timestamp")
    train_hi = cut - F.expr(f"INTERVAL {embargo}") if embargo else cut
    ts = F.col(ts_col)
    return (df.filter(ts < train_hi),
            df.filter(ts >= cut))


def compact_parquet(spark: SparkSession, src_path: str, out_path: str,
                    target_mb: int = 128) -> int:
    """Small-files compaction: rewrite a parquet dataset into files of
    roughly ``target_mb`` each; returns the output file count.

    Streaming sinks, per-trigger appends, and over-parallel writes
    leave datasets as thousands of KB-sized files; every subsequent
    scan then pays per-file open/footer/scheduling overhead that can
    dwarf the read itself (the canonical 100 TB operational debt).
    The target size comes from Catalyst's scan statistics (sum of file
    sizes — planning metadata, no data pass), the rewrite is ONE
    shuffle to ``ceil(size/target)`` partitions.  Sizes are estimates
    (re-compression shifts them); the point is order-of-magnitude file
    count, not exact file bytes.  Writes to a NEW path — atomically
    swapping it for the source is the caller's (filesystem-specific)
    move.
    """
    from ..relational import stats_bytes

    df = spark.read.parquet(src_path)
    n = max(1, -(-stats_bytes(df) // (target_mb << 20)))    # ceil
    df.repartition(n).write.mode("overwrite").parquet(out_path)
    return n

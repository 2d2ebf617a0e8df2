"""Physical-plan regression tests: the plans the engine is *supposed*
to produce at scale — pushdown reaching the scan, broadcast joins for
fitted lookups and dims, top-k without a global sort, and zero Python
in native paths.  Guards against silent plan regressions that would
only show up as 100 TB slowdowns."""

import pytest

from lookup_cases import (JOINED, LOOKUP_OPERATORS, assert_lookup_rule,
                          lookup_frame)

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def qs():
    import __spark_entry__ as e

    return e.queries()


def test_label_encode_broadcasts_lookup(spark, no_auto_broadcast, qs):
    """The registry's label encoding: its 6-row dictionary is a literal
    map, a broadcast join with ``INLINE_MAX_ROWS`` 0, and a join with
    no hint when checkpointed (``assert_lookup_rule``)."""
    assert_lookup_rule(spark, lambda: qs["label_encode"](spark, SF))


@pytest.mark.parametrize("name", sorted(LOOKUP_OPERATORS))
def test_lookup_join_broadcast_iff_table_held(spark, no_auto_broadcast,
                                              name):
    """The one rule of fitted lookups: a held table of at most
    ``INLINE_MAX_ROWS`` rows is a literal map, with no join; a larger
    held table (here: the bound at 0), or CVTargetEncoder's table on a
    key pair, is hinted ``broadcast``; one over SERVING_MAX_ROWS,
    checkpointed on the executors, carries no hint (forcing a multi-GB
    lookup into executor memory is the 100 TB OOM) and is left to
    AQE."""
    df = lookup_frame(spark, 3)
    assert_lookup_rule(
        spark, lambda: LOOKUP_OPERATORS[name]().fit(df).transform(df),
        inlined=name not in JOINED)


def test_events_latest_is_hash_aggregate(spark, qs):
    """VERDICT r11 #3: latest-per-key must plan as a partial-aggregated
    HASH aggregate (packed decimal ordering key) — no Window, no
    SortAggregate (a struct-max buffer would silently fall back to
    per-partition sorts)."""
    p = _plan(qs["events_latest"](spark, SF))
    assert "Window" not in p
    assert "SortAggregate" not in p
    assert "HashAggregate" in p


def test_events_latest_pack_gate_falls_back(spark):
    """All three statistics-gated tiers (long pack / decimal pack /
    struct-max) agree on values; disabling each gate takes the next
    always-correct tier."""
    import unittest.mock as mock

    from dataframe_pipeline_spark import ext_queries as xq

    fast = xq.q_events_latest(spark, SF)          # long pack at test SF
    assert "SortAggregate" not in _plan(fast)
    with mock.patch.object(xq, "_latest_long_pack_params",
                           return_value=None):
        mid = xq.q_events_latest(spark, SF)       # decimal pack
    assert "SortAggregate" not in _plan(mid)
    with mock.patch.object(xq, "_latest_long_pack_params",
                           return_value=None), \
            mock.patch.object(xq, "_col_within", return_value=False):
        slow = xq.q_events_latest(spark, SF)      # struct fallback
    p = _plan(slow)
    assert "Window" not in p          # still an aggregate, not a window
    want = sorted(map(tuple, fast.collect()))
    assert want == sorted(map(tuple, mid.collect()))
    assert want == sorted(map(tuple, slow.collect()))


def test_row_filter_pushed_to_scan(spark, qs):
    p = _plan(qs["row_filter"](spark, SF))
    assert "PushedFilters: [" in p
    assert "Not(EqualTo(l_returnflag,R))" in p or "Not(In(l_returnflag" in p


def test_native_function_has_no_python(spark, qs):
    for name in ("function_native", "function_udf", "strconcat",
                 "date_features", "scaler_minmax"):
        p = _plan(qs[name](spark, SF))
        assert "EvalPython" not in p, f"{name} fell off the native path"


def test_topk_uses_heap_not_global_sort(spark, qs):
    p = _plan(qs["top_revenue_orders"](spark, SF))
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p           # dim filter broadcast
    assert "LeftSemi" in p                    # orders pruned by semi join


def test_tpch_dim_broadcast_is_size_gated(spark, no_auto_broadcast,
                                          monkeypatch):
    """TPC-H shape broadcast policy: TRUE small dims (customer,
    nation) carry the size-gated hint; the fact-derived pre-joined dim
    carries NO explicit hint — AQE plans it from runtime sizes
    (A/B-measured at sf1: forcing it was 1.8x slower; at 100x it would
    be an OOM).  With planner auto-broadcast off, the surviving
    BroadcastHashJoins are exactly the gated small-dim hints; zeroing
    the gate removes every hint from both shapes."""
    import dataframe_pipeline_spark.ext_queries as xq

    # under the gate: small-dim hints survive even with auto-broadcast off
    assert "BroadcastHashJoin" in _plan(xq.q_revenue_by_nation(spark, SF))
    assert "BroadcastHashJoin" in _plan(xq.q_top_revenue_orders(spark, SF))
    # above the gate: every explicit hint disappears from both shapes
    import dataframe_pipeline_spark.relational as rel
    monkeypatch.setattr(rel, "DIM_BROADCAST_MAX_BYTES", 0)
    assert "BroadcastHashJoin" not in _plan(xq.q_revenue_by_nation(spark, SF))
    assert "BroadcastHashJoin" not in _plan(
        xq.q_top_revenue_orders(spark, SF))


def test_cheap_row_count_is_jobless_on_scans(spark):
    """Fit-time cardinality for sampling/plane decisions must come from
    parquet footer metadata, not a count() job — at 100 TB each of those
    counts is a full scan.  Asserted via the status tracker: no job runs
    under the marker group."""
    from dataframe_pipeline_spark.base import cheap_row_count

    sc = spark.sparkContext
    df = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = df.count()
    sc.setJobGroup("crc_jobless", "cheap_row_count")
    try:
        n = cheap_row_count(df)
    finally:
        sc.setJobGroup("crc_done", "")
    assert n == exact
    assert list(sc.statusTracker().getJobIdsForGroup("crc_jobless")) == []

    # filtered scan: footer total is the safe upper bound, still jobless
    filt = df.filter("vec_id % 2 = 0")
    sc.setJobGroup("crc_jobless2", "cheap_row_count filtered")
    try:
        nf = cheap_row_count(filt)
    finally:
        sc.setJobGroup("crc_done", "")
    assert nf == exact
    assert list(sc.statusTracker().getJobIdsForGroup("crc_jobless2")) == []

    # row-multiplying plans (join) must fall back to the exact job
    joined = df.alias("a").join(df.alias("b"), "vec_id")
    assert cheap_row_count(joined) == exact
    # non-file frames fall back to the exact job too
    local = spark.range(7)
    assert cheap_row_count(local) == 7


def test_scan_prunes_columns(spark, qs):
    """A 3-column projection must not read all 11 lineitem columns."""
    p = _plan(qs["typeconv"](spark, SF))
    scan = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "l_comment" not in scan and "l_shipdate" not in scan


def test_grouped_agg_is_partial_then_final(spark, qs):
    """Map-side partial aggregation before the shuffle."""
    p = _plan(qs["tpch_pricing_summary"](spark, SF))
    assert p.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning" in p


def test_asof_join_single_shuffle(spark, qs):
    """Union + running-last: exactly one shuffle on the join key, no
    row-explosion join in the plan."""
    p = _plan(qs["asof_last_purchase"](spark, SF))
    assert "Window" in p
    assert "SortMergeJoin" not in p and "BroadcastNestedLoopJoin" not in p


def test_set_padded_path_no_single_partition_sort(spark):
    """The positional-padding path uses zipWithIndex-style per-partition
    offsets: the window is partition-local, so no Exchange
    SinglePartition appears in the plan."""
    from dataframe_pipeline_spark.operators import SetTransformer

    df = spark.read.parquet(f"{SF}/customer.parquet").repartition(8)
    st = SetTransformer(first_operand="c_mktsegment",
                        second_operand=["BUILDING", "AUTOMOBILE"],
                        output_operand="seg", output_func=lambda r: None,
                        set_operation="*")
    p = _plan(st.transform(df))
    assert "SinglePartition" not in p


def test_ivf_probe_from_disk_is_partition_pruned(spark, tmp_path):
    """A reloaded IVF index probes via a PartitionFilter on __list —
    the scan reads n_probe of n_lists partitions, the layout the 100 TB
    story depends on (a probe touches n_probe/n_lists of the data)."""
    from dataframe_pipeline_spark.similarity import IVFIndex

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qvec = list(emb.filter("vec_id = 0").head()["embedding"])
    idx = IVFIndex(k=5, n_lists=4, n_probe=2).fit(emb)
    path = str(tmp_path / "ivf")
    idx.write(path)

    plan = _plan(IVFIndex.read(spark, path).search_vec(qvec))
    scan = next(l for l in plan.splitlines()
                if "FileScan" in l and "PartitionFilters: [__list" in l)
    assert " IN (" in scan
    # and the quantized payload columns are NOT partition-filtered away
    # from the schema (the probe still scores inside the cells)
    assert "ReadSchema: struct<vec_id:bigint,__q:array<bigint>" in scan


def test_lsh_probe_from_disk_is_partition_pruned(spark, tmp_path):
    from dataframe_pipeline_spark.similarity import HyperplaneLSHIndex

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qvec = list(emb.filter("vec_id = 0").head()["embedding"])
    idx = HyperplaneLSHIndex(k=5, n_planes=4).build(emb)
    path = str(tmp_path / "lsh")
    idx.write(path)

    plan = _plan(HyperplaneLSHIndex.read(spark, path).search_vec(qvec))
    assert any("FileScan" in l and "PartitionFilters: [" in l
               and "__bucket" in l.split("PartitionFilters: [", 1)[1]
               for l in plan.splitlines())


def test_segment_dedup_anti_join_broadcasts_common_set(spark):
    """The corpus-wide boilerplate filter must broadcast the (small)
    common-hash set into the anti-join — the full exploded segment
    table never shuffles for the filtering step."""
    from dataframe_pipeline_spark.dedup import SegmentDeduplicator

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = _plan(SegmentDeduplicator(k=8, max_doc_freq=1).transform(docs))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p


def test_chunker_plan_is_shuffle_free(spark):
    """Chunk explode is map-side: no Exchange anywhere in the plan —
    the operator streams at scan speed at any scale."""
    from dataframe_pipeline_spark import text as tx

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = _plan(tx.DocumentChunker(max_tokens=48, overlap=8).transform(docs))
    # the only Exchange allowed is spread()'s RoundRobin widener for
    # tiny local inputs (a no-op at real scale); no keyed shuffle ever
    assert "Exchange hashpartitioning" not in p
    assert "Exchange rangepartitioning" not in p
    assert "Generate explode" in p or "Generate posexplode" in p


def test_packer_single_shard_exchange(spark):
    """Packing costs exactly one hash partition on the shard key (the
    window's requirement); no second shuffle sneaks in."""
    from dataframe_pipeline_spark import text as tx

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    chunks = tx.DocumentChunker(max_tokens=48, overlap=8).transform(docs)
    p = _plan(tx.SequencePacker(budget=256, n_shards=8).transform(chunks))
    assert p.count("Exchange hashpartitioning") == 1
    assert "shard" in p.split("Exchange hashpartitioning", 1)[1][:60]


def test_quantile_bin_transform_is_map_only(spark, qs):
    """Binning after fit is a codegen comparison chain: no Python, no
    shuffle anywhere in the transform plan (the only exchange in the
    declared query is none at all — scan → project)."""
    p = _plan(qs["quantile_bin"](spark, SF))
    assert "EvalPython" not in p
    assert "Exchange" not in p


def test_split_group_is_shuffle_free(spark, qs):
    """Group membership is a hash of the key evaluated per-row — the
    split must never shuffle or sort."""
    p = _plan(qs["split_group"](spark, SF))
    assert "Exchange" not in p and "Sort" not in p
    assert "EvalPython" not in p


def test_incremental_dedup_shuffles_digests_not_bodies(spark, qs):
    """Every exchange in the incremental-dedup plan is keyed on the
    64-byte digest or the id — a document body (text) in any exchange
    key or shuffle projection would be the 100 TB mistake."""
    plan = qs["dedup_incremental"](spark, SF)
    p = _plan(plan)
    for line in p.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line


def test_revenue_by_nation_preagg_below_join(spark, qs):
    """The r9 shuffle-minimal shape + r10 cents arithmetic, pinned
    (VERDICT r9 #3): the per-orderkey pre-aggregate must sit BELOW the
    fact join (the join moves ~|orders| partials, never |lineitem| raw
    rows), the group/shuffle key must be the INT nationkey with the
    25-row name join after the aggregate, and under the overflow gate
    the fact aggregate must sum LONGS (no decimal(18,2) anywhere in
    the plan — the fast path's only decimal is the final 25-row
    finisher)."""
    p = _plan(qs["revenue_by_nation"](spark, SF))
    pre = p.index("HashAggregate(keys=[l_orderkey")
    # the fact join appears above (= earlier in the tree print than)
    # the per-orderkey pre-aggregate
    join_at = min(i for i in (p.find("ShuffledHashJoin"),
                              p.find("SortMergeJoin")) if i >= 0)
    assert join_at < pre
    assert "hashpartitioning(c_nationkey" in p
    assert "decimal(18,2)" not in p            # cents fast path engaged


def test_revenue_rollup_single_expand_on_preagg(spark, qs):
    """Rollup runs on the 6-row pre-aggregate: ONE scan, ONE Expand,
    and the Expand sits above the finest-grain aggregate — never on
    the raw fact rows (VERDICT r9 #3).  Long-cents sums under the
    gate."""
    p = _plan(qs["revenue_rollup"](spark, SF))
    assert p.count("FileScan") == 1
    assert p.count("Expand") == 1
    # tree prints parents first: Expand above the finest-grain agg
    # (the LAST HashAggregate — the rollup's own agg also keys on
    # l_returnflag and prints first), and the finest agg above the scan
    finest = p.rindex("HashAggregate(keys=[l_returnflag")
    assert p.index("Expand") < finest < p.index("FileScan")
    assert "decimal(18,2)" not in p            # cents fast path engaged


def test_q9_shuffle_hash_under_gate(spark, qs):
    """Q9's only shuffle join is the size-gated SHUFFLE-HASH against
    orders (r9, A/B-measured); under the gate the hint must
    materialize as a ShuffledHashJoin, with the dims broadcast and the
    money terms in long cents (VERDICT r9 #3)."""
    p = _plan(qs["tpch_q9_profit"](spark, SF))
    assert "ShuffledHashJoin" in p
    assert p.count("BroadcastHashJoin") >= 2   # part, supplier⋈nation
    assert "decimal(18,2)" not in p            # cents fast path engaged


def test_long_sum_gate_uses_exact_footer_rows(spark):
    """ADVICE r10: the overflow gate must bound rows EXACTLY from
    parquet footers (no compressed-bytes/8 heuristic), open the fast
    path on the tiny table, close it when the per-row bound makes the
    exact count overflow-unsafe, and refuse (False) for non-file
    sources where no footer exists — degrading to the always-correct
    decimal path, never to a guess."""
    from dataframe_pipeline_spark.ext_queries import (_long_sum_ok,
                                                      _parquet_file_rows)

    li = spark.read.parquet(SF + "/lineitem.parquet")
    n_exact = li.count()
    footer_total = sum(_parquet_file_rows(f) for f in li.inputFiles())
    assert footer_total == n_exact             # footers ARE the count
    assert _long_sum_ok(li)                    # sf0.001 provably safe
    # per-row bound so large that even this tiny table must refuse
    assert not _long_sum_ok(li, per_row_max=1 << 62)
    # bound sized to the exact count still passes
    assert _long_sum_ok(li, per_row_max=(1 << 62) // n_exact)
    # non-file source: no footer to prove the bound -> decimal path
    assert not _long_sum_ok(spark.range(10))


def test_fin4_double_fast_path_is_bit_identical(spark):
    """r11: the gated pure-double finisher must produce the EXACT bits
    of the decimal divide on both sides of the 2^53 boundary — below it
    the long→double cast is exact and the IEEE divide by 10000.0 is the
    same single rounding; above it the row must take the decimal
    branch.  Values chosen to make a naive double path differ."""
    from pyspark.sql import functions as F

    from dataframe_pipeline_spark.ext_queries import _fin4

    vals = [0, 1, 12345, 10**9 + 7, (1 << 53) - 1, (1 << 53) + 1,
            10**16 + 1, 10**17 + 3, -(10**16 + 1)]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = [r["f"] for r in
           df.select(_fin4(F.col("v")).alias("f")).collect()]
    want = [r["f"] for r in df.select(
        (F.col("v").cast("decimal(38,0)") / F.lit(10000))
        .cast("double").alias("f")).collect()]
    import struct
    assert [struct.pack("d", g) for g in got] == \
        [struct.pack("d", w) for w in want]


def test_funnel_single_shuffle(spark, qs):
    """Funnel must be one pass: scan → partial agg → ONE exchange on
    user_id → final reduce (the single-row global agg adds its own
    1-partition exchange; no join, no second scan of events)."""
    df = qs["funnel_signup_purchase"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("FileScan") == 1


def test_ann_annotator_cell_join_partition_prunes(spark, tmp_path):
    """AnnAnnotator.transform over a RELOADED index must drive its
    cell join through the ``__list`` partition column — dynamic
    partition pruning against the tiny exploded query side, so an
    annotation pass reads ~n_probe/n_lists of the corpus layout
    instead of scanning it (the same contract sim_ann_ivf_batch
    pins)."""
    import pyspark.sql.functions as F

    from dataframe_pipeline_spark.similarity import AnnAnnotator, IVFIndex

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = IVFIndex(k=3, n_lists=4, n_probe=2).fit(emb)
    path = str(tmp_path / "ann_idx")
    idx.write(path)

    ann = AnnAnnotator(k=3, n_lists=4, n_probe=2, id_col="qid")
    ann.index = IVFIndex.read(spark, path)
    queries = (emb.filter(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("qid"), "embedding"))
    out = ann.transform(queries)
    out.write.format("noop").mode("overwrite").save()  # finalize AQE
    plan = _plan(out)
    assert "dynamicpruning" in plan or any(
        "FileScan" in l and "PartitionFilters: [__list" in l
        for l in plan.splitlines())

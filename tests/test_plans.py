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
    """VERDICT r11 #3: latest-per-key is an aggregate, not a window, and
    it aggregates partially before the shuffle, so the exchange carries
    at most one row per (user, type) per task.  The struct-max buffer
    plans as a SortAggregate; the partial ``max`` must sit below the
    exchange."""
    p = _plan(qs["events_latest"](spark, SF))
    assert "Window" not in p
    exchange = p.index("Exchange hashpartitioning(user_id")
    assert exchange < p.index("partial_max(struct(")


def test_events_latest_matches_row_number_reference(spark, tmp_path):
    """events_latest returns the row that ``row_number() OVER (PARTITION
    BY user_id, event_type ORDER BY ts DESC, event_id DESC)`` ranks
    first, on the test events plus crafted ties: two NULL ``ts`` in one
    group (the larger ``event_id`` wins), a NULL beside a real ``ts``
    (the real one wins) and two equal ``ts``."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dataframe_pipeline_spark import ext_queries as xq

    events = pq.read_table(SF + "/events.parquet")
    t0, t1 = dt.datetime(2030, 1, 1), dt.datetime(2030, 1, 2)
    u1, u2, e0 = 10**9, 10**9 + 1, 10**6
    extra = pa.table({
        "event_id": [e0 + i for i in range(7)],
        "ts": [None, None, None, t0, t1, t1, t0],
        "user_id": [u1, u1, u1, u1, u2, u2, u2],
        "event_type": ["x", "x", "y", "y", "x", "x", "x"],
        "value": [float(i) for i in range(7)],
        "props": [None] * 7}, schema=events.schema)
    pq.write_table(pa.concat_tables([events, extra]),
                   str(tmp_path / "events.parquet"))
    sf = str(tmp_path)

    w = (Window.partitionBy("user_id", "event_type")
         .orderBy(F.desc("ts"), F.desc("event_id")))
    want = (xq._events(spark, sf)
            .withColumn("__rn", F.row_number().over(w))
            .filter("__rn = 1")
            .select("event_id", "user_id", "event_type", "value"))
    got = xq.q_events_latest(spark, sf).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want.collect()))
    assert {(r.user_id, r.event_type): r.event_id
            for r in got if r.user_id >= u1} == {
        (u1, "x"): e0 + 1, (u1, "y"): e0 + 3, (u2, "x"): e0 + 5}


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


def test_tpch_dims_carry_no_broadcast_hint(spark, no_auto_broadcast):
    """TPC-H shapes, and the orders-to-customer left join whose dim grows
    with the data, leave the join strategy to AQE: with planner
    auto-broadcast off, no BroadcastHashJoin survives in any of them,
    so none of their joins carries an explicit hint."""
    import dataframe_pipeline_spark.ext_queries as xq

    assert "BroadcastHashJoin" not in _plan(xq.q_revenue_by_nation(spark, SF))
    assert "BroadcastHashJoin" not in _plan(
        xq.q_top_revenue_orders(spark, SF))
    assert "BroadcastHashJoin" not in _plan(xq.q_join_left_enrich(spark, SF))


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
    """The r9 shuffle-minimal shape, pinned (VERDICT r9 #3): the
    per-orderkey pre-aggregate must sit BELOW the fact join (the join
    moves ~|orders| partials, never |lineitem| raw rows), and the
    group/shuffle key must be the INT nationkey with the 25-row name
    join after the aggregate."""
    p = _plan(qs["revenue_by_nation"](spark, SF))
    pre = p.index("HashAggregate(keys=[l_orderkey")
    # the fact join appears above (= earlier in the tree print than)
    # the per-orderkey pre-aggregate, whichever strategy AQE picks:
    # Broadcast-, ShuffledHash- or SortMerge-Join on l_orderkey
    join_at = p.index("Join [l_orderkey")
    assert join_at < pre
    assert "hashpartitioning(c_nationkey" in p


def test_revenue_rollup_single_expand_on_preagg(spark, qs):
    """Rollup runs on the 6-row pre-aggregate: ONE scan, ONE Expand,
    and the Expand sits above the finest-grain aggregate — never on
    the raw fact rows (VERDICT r9 #3)."""
    p = _plan(qs["revenue_rollup"](spark, SF))
    assert p.count("FileScan") == 1
    assert p.count("Expand") == 1
    # tree prints parents first: Expand above the finest-grain agg
    # (the LAST HashAggregate — the rollup's own agg also keys on
    # l_returnflag and prints first), and the finest agg above the scan
    finest = p.rindex("HashAggregate(keys=[l_returnflag")
    assert p.index("Expand") < finest < p.index("FileScan")


def test_q9_q12_q18_take_planner_broadcast(spark, qs):
    """Each query's lineitem ⋈ orders join carries no strategy hint, so
    at this scale the planner broadcasts; a hint forcing a
    ShuffledHashJoin there displaced that broadcast."""
    for name in ("tpch_q9_profit", "tpch_q12_priority_class",
                 "tpch_q18_large_orders"):
        p = _plan(qs[name](spark, SF))
        assert "BroadcastHashJoin" in p, name
        assert "ShuffledHashJoin" not in p, name


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

"""graph.pagerank: hand-computed values, sink accumulation, edge
dedup, validation."""

import pytest

from dataframe_pipeline_spark.graph import pagerank


def _pr(spark, edges, iters=3, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r.id: r.pr for r in pagerank(df, iters=iters, **kw).collect()}


def test_pagerank_two_node_chain_hand_computed(spark):
    # 1 -> 2: pr1 stays at base 0.15 after an iteration; pr2 = 0.15 + 0.85*pr1
    got = _pr(spark, [(1, 2)], iters=2)
    assert abs(got[1] - 0.15) < 1e-12
    # iter1: pr2 = 0.15+0.85*1.0 = 1.0; iter2: 0.15+0.85*0.15 = 0.2775
    assert abs(got[2] - 0.2775) < 1e-12


def test_pagerank_symmetric_cycle_is_uniform(spark):
    # 1->2->3->1: perfectly symmetric, pr stays 1.0 for all (N-scaled)
    got = _pr(spark, [(1, 2), (2, 3), (3, 1)], iters=7)
    assert all(abs(v - 1.0) < 1e-9 for v in got.values())


def test_pagerank_hub_attracts_mass(spark):
    # all point at node 9 -> node 9 outranks the sources
    got = _pr(spark, [(1, 9), (2, 9), (3, 9)], iters=3)
    assert got[9] > got[1] == got[2] == got[3]


def test_pagerank_duplicate_edges_dont_double_count(spark):
    a = _pr(spark, [(1, 2), (1, 2), (1, 3)], iters=2)
    b = _pr(spark, [(1, 2), (1, 3)], iters=2)
    assert a == b


def test_null_edges_dropped_everywhere(spark):
    # NULL contract (ADVICE r9): an edge with a NULL endpoint is
    # dropped up front — a source whose EVERY dst is NULL owns no
    # adjacency row and is absent from pagerank output entirely (not a
    # 0-degree dangling row, not a base-rank recovery row).
    from dataframe_pipeline_spark.graph import build_adjacency

    edges = spark.createDataFrame(
        [(1, 2), (3, None), (None, 2), (4, None), (4, 5)],
        "src long, dst long")
    adj = {r["__s"]: (r["__deg"], sorted(r["__ds"]))
           for r in build_adjacency(edges).collect()}
    # 3 (all-NULL dst) and NULL-src rows vanish; 4's NULL dst doesn't
    # count toward its out-degree.
    assert adj == {1: (1, [2]), 4: (1, [5])}

    got = {r.id: r.pr for r in pagerank(edges, iters=2).collect()}
    assert set(got) == {1, 2, 4, 5}          # node 3 absent
    clean = {r.id: r.pr for r in pagerank(
        spark.createDataFrame([(1, 2), (4, 5)], "src long, dst long"),
        iters=2).collect()}
    assert got == clean                      # NULL edges are inert


def test_pagerank_validation(spark):
    df = None
    with pytest.raises(ValueError, match="iters"):
        pagerank(df, iters=0)
    with pytest.raises(ValueError, match="damping"):
        pagerank(df, damping=1.0)


def test_pagerank_over_edges_pins_nothing(spark):
    """``pagerank(edges=...)`` builds its adjacency lazily: collecting
    it adds no id to the persistent-RDD map."""
    jsc = spark.sparkContext._jsc
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1)],
                                  "src long, dst long")
    before = set(jsc.getPersistentRDDs().keySet())
    got = {r.id: r.pr for r in pagerank(edges, iters=2).collect()}
    assert set(got) == {1, 2, 3}
    # earlier tests' RDDs may be released meanwhile; none may be added
    assert set(jsc.getPersistentRDDs().keySet()) <= before


def test_registry_pagerank_pins_nothing(spark):
    """The ``graph_pagerank`` registry row builds its adjacency lazily:
    collecting it adds nothing to the persistent-RDD map, and it ranks
    as a run over a checkpointed adjacency does."""
    import pyspark.sql.functions as F

    from dataframe_pipeline_spark import base
    from dataframe_pipeline_spark.ext_queries import q_graph_pagerank
    from dataframe_pipeline_spark.graph import build_adjacency
    from test_plans import SF as sf

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    got = q_graph_pagerank(spark, sf).collect()
    # earlier tests' RDDs may be released meanwhile; none may be added
    assert set(jsc.getPersistentRDDs().keySet()) <= before

    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    edges = li.select(F.col("l_orderkey").alias("src"),
                      (F.col("l_partkey") + 100_000_000).alias("dst"))
    adj, ids = base.tracked_checkpoint(build_adjacency(edges))
    try:
        want = (pagerank(adj=adj, iters=3)
                .select("id", F.round("pr", 6).alias("pr"))
                .orderBy(F.desc("pr"), F.asc("id")).limit(20).collect())
    finally:
        base.release_checkpoint(spark, ids)
    assert len(got) == 20
    assert got == want

"""Iterative graph algorithms over edge DataFrames.

Companion to ``dedup.connected_components`` (min-label propagation):
this module holds the general fixed-iteration tier, starting with
PageRank.  The Spark-first shape for iterative algorithms:

* the graph is materialized ONCE as a deduplicated adjacency table
  (one row per source, neighbor array + out-degree) — each iteration
  then joins per-SOURCE state (|V| rows) instead of re-shuffling the
  edge list (|E| rows), and the explode back to edge grain feeds a
  partial-aggregatable sum shuffling only (node id, double) pairs;
* hub sources are CHUNKED (neighbor arrays split at 64k entries) so a
  power-law hub never materializes one unbounded row — the skew
  remedy that keeps the adjacency form safe at web scale;
* the lineage is cut with ``localCheckpoint`` every few iterations —
  without it the plan grows per iteration and Catalyst analysis time,
  not the data, becomes the bottleneck (same discipline as
  connected_components);
* iteration count is FIXED (a hyperparameter), so the whole
  computation is replayable by an oracle that unrolls the same k
  steps — approximate-convergence loops ("iterate until delta < eps")
  belong above this primitive, not inside it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Cut plan lineage every this many PageRank iterations.
CHECKPOINT_EVERY = 5

#: Max neighbors per adjacency row; hub sources split into this many
#: per chunk so no single row is unbounded under power-law out-degree.
ADJ_CHUNK = 65536


def build_adjacency(edges: DataFrame, src: str = "src",
                    dst: str = "dst") -> DataFrame:
    """ONE build shuffle: the deduplicated adjacency table
    ``(__s, __deg, __ds)`` — one row per (source, ≤64k-neighbor chunk),
    ``collect_set`` dedups map-side, hub arrays chunked at
    ``ADJ_CHUNK`` so no single row is unbounded under power-law
    out-degree.  This is the maintainable graph index: build it once
    per corpus snapshot (persist / localCheckpoint / write it) and run
    ``pagerank`` against it many times — iterations never re-shuffle
    the edge list.

    NULL contract (ADVICE r8): edges with a NULL endpoint are DROPPED
    up front, explicitly — a NULL dst is not a reachable node and must
    not count toward out-degree, and a NULL src owns no adjacency row.
    Stated here as an invariant rather than left as a ``collect_set``
    side effect (collect_set silently skips NULLs, which would
    otherwise leave an all-NULL-dst source as a dangling 0-degree
    row)."""
    edges = edges.where(F.col(src).isNotNull() & F.col(dst).isNotNull())
    # greatest(…, 0) is sequence-safety belt-and-braces: after the NULL
    # filter every source has ≥1 neighbor, but an empty set would make
    # sequence(0, -1) DESCEND — keep the guard so the expression is
    # total.
    chunks = (f"transform(sequence(0, greatest(int(ceil(size(__all) / "
              f"{ADJ_CHUNK}.0)) - 1, 0)), "
              f"i -> slice(__all, i * {ADJ_CHUNK} + 1, {ADJ_CHUNK}))")
    return (edges.groupBy(F.col(src).alias("__s"))
            .agg(F.collect_set(F.col(dst)).alias("__all"))
            .select("__s", F.size("__all").cast("long").alias("__deg"),
                    F.explode(F.expr(chunks)).alias("__ds")))


def pagerank(edges: DataFrame | None = None, iters: int = 3,
             damping: float = 0.85, src: str = "src", dst: str = "dst",
             adj: DataFrame | None = None) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list → one row per
    node: ``(id, pr)`` with ``pr`` scaled so a uniform graph scores 1.0
    (pr = N × probability — scale-free across corpus sizes and robust
    to float-compare at any N).

    Semantics: ``pr_{t+1}(v) = (1-d) + d * Σ_{(u,v)∈E} pr_t(u)/out(u)``
    (the N-scaled form of the standard update).  Dangling-node mass is
    dropped, not redistributed — documented choice, matching the
    common sparse-web formulation and keeping every iteration a pure
    join + aggregate (redistribution needs an extra global aggregate
    per step).  Duplicate edges are deduplicated up front so
    multi-edges don't double-count; per-term arithmetic is
    ``pr/out_degree`` (division, not reciprocal-multiply) so the
    unrolled SQL oracle replays the identical doubles.

    Plan: ONE build shuffle turns the edge list into an adjacency
    table ``(src, neighbors[], out_degree)`` — ``collect_set``
    dedups map-side, hub arrays chunked at ``ADJ_CHUNK``.  Each
    iteration LEFT-joins the previous SPARSE contribution table (only
    nodes with indegree > 0 carry state; an absent source reads as the
    base rank inline — ``pr_t(u) = (1-d) + d*coalesce(c_t(u), 0)``),
    explodes the neighbor array, and partial-agg-sums by target: the
    join moves |V| rows, only the final sum touches edge grain.  The
    full node set is never joined: nodes with indegree carry a
    contribution row by construction, and source-only nodes are
    recovered with one anti-join at the end (no second pass over the
    edges).  State per node is ONE double.

    Pass ``adj`` (a frame from :func:`build_adjacency`, lazy or
    materialized by the caller) to rank against a maintained graph
    index; otherwise it is built lazily from ``edges`` and never
    persisted: the plan reuses the one build exchange for every
    iteration.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    if not 0.0 < damping < 1.0:
        raise ValueError("damping must be in (0, 1)")
    if adj is None:
        if edges is None:
            raise ValueError("pass edges or adj")
        adj = build_adjacency(edges, src, dst)
    base = F.lit(1.0 - damping)
    d = F.lit(damping)

    def rank(c_col):
        # pr_t(u) from the sparse contribution column: bit-identical to
        # the dense formulation for both present and absent nodes
        return base + d * F.coalesce(c_col, F.lit(0.0))

    contrib = None                     # iteration 0: every pr_0 = 1.0
    for i in range(iters):
        if contrib is None:
            joined = adj.withColumn("pr", F.lit(1.0))
        else:
            joined = (adj.join(contrib, adj["__s"] == contrib["id"], "left")
                      .withColumn("pr", rank(F.col("__c"))))
        contrib = (joined
                   .select((F.col("pr") / F.col("__deg")).alias("__w"),
                           F.explode("__ds").alias("id"))
                   .groupBy("id").agg(F.sum("__w").alias("__c")))
        if (i + 1) % CHECKPOINT_EVERY == 0 and i + 1 < iters:
            contrib = contrib.localCheckpoint()
    # every node with indegree > 0 has a contribution row by
    # construction (each explode term is > 0); source-only nodes get
    # the base rank via one anti-join — no full-node-set join, no
    # second pass over the edge grain
    ranked = contrib.select("id", rank(F.col("__c")).alias("pr"))
    src_only = (adj.select(F.col("__s").alias("id")).distinct()
                .join(contrib.select("id"), "id", "left_anti")
                .withColumn("pr", rank(F.lit(None).cast("double"))))
    return ranked.unionByName(src_only)

"""Similarity search: brute-force cosine top-k and hyperplane LSH."""

import pytest
from pyspark.sql import functions as F

from dataframe_pipeline_spark import similarity as sim


@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [-1.0, 0.0, 0.0, 0.0]),
        (4, [0.8, 0.2, 0.1, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_topk_order_and_exclusion(emb):
    out = sim.CosineTopK(k=3).search(emb, query_id=0).collect()
    assert [r.vec_id for r in out] == [1, 4, 2]
    assert out[0].cosine > out[1].cosine > out[2].cosine
    assert all(r.vec_id != 0 for r in out)


def test_topk_cosine_value(emb):
    out = sim.CosineTopK(k=1).search(emb, query_id=0).first()
    assert out.cosine == pytest.approx(0.9 / (0.9**2 + 0.1**2) ** 0.5, abs=1e-4)


def test_lsh_bucket_subset_of_brute(emb):
    brute = {r.vec_id for r in sim.CosineTopK(k=4).search(emb, 0).collect()}
    ann = sim.HyperplaneLSHIndex(k=4, n_planes=2, dim=4).search(emb, 0).collect()
    assert {r.vec_id for r in ann} <= brute
    # the near-identical vector lands in the query's bucket
    assert 1 in {r.vec_id for r in ann}


def test_bucketize_is_deterministic(emb):
    idx = sim.HyperplaneLSHIndex(n_planes=4, dim=4)
    a = {r.vec_id: r.__bucket if hasattr(r, "__bucket") else r["__bucket"]
         for r in idx.bucketize(emb).collect()}
    b = {r.vec_id: r["__bucket"] for r in idx.bucketize(emb).collect()}
    assert a == b and len(a) == 5


def test_ivf_index_matches_bruteforce_top1(spark):
    """IVF with enough probes finds the same top neighbors as brute force."""
    from dataframe_pipeline_spark.similarity import CosineTopK, IVFIndex

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ivf = IVFIndex(k=5, n_lists=4, n_probe=4).fit(emb)   # probe all: exact
    got = [r.vec_id for r in ivf.search(query_id=0).collect()]
    exp_df = CosineTopK(k=5, scale=1000).search(emb, query_id=0)
    exp = [r.vec_id for r in exp_df.collect()]
    # quantization differs (double vs int-quantized) — compare sets loosely
    assert len(set(got) & set(exp)) >= 3
    # and with partial probing it still returns k results from probed cells
    part = IVFIndex(k=5, n_lists=4, n_probe=1).fit(emb).search(query_id=0)
    assert 0 < part.count() <= 5


def test_ivf_release_keeps_twin_index_pinned(spark):
    """Each index pins its own cell table: releasing one of two indexes
    fitted identically on the same frame leaves the other's blocks in
    the persistent-RDD map and its search results unchanged."""
    from dataframe_pipeline_spark.similarity import IVFIndex

    jsc = spark.sparkContext._jsc

    def live():
        return set(jsc.getPersistentRDDs().keySet())

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    before = live()
    first = IVFIndex(k=5, n_lists=4, n_probe=2).fit(emb)
    mid = live()
    second = IVFIndex(k=5, n_lists=4, n_probe=2).fit(emb)
    first_ids, second_ids = mid - before, live() - mid
    assert first_ids and second_ids, "each index pins blocks of its own"
    want = second.search(query_id=0).collect()
    first.release()
    assert second_ids <= live()
    assert second.search(query_id=0).collect() == want
    second.release()
    assert not (first_ids | second_ids) & live()


def test_ivf_fit_is_partition_independent(spark):
    """The IVF trainer's sample is content-addressed (md5-mod of the id,
    then id-ordered) — fitted centroids must be identical no matter how
    the input is partitioned."""
    from dataframe_pipeline_spark.similarity import IVFIndex

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = IVFIndex(k=5, n_lists=4, n_probe=2, max_train=100).fit(emb)
    b = IVFIndex(k=5, n_lists=4, n_probe=2, max_train=100).fit(
        emb.repartition(17))
    assert a.centroids_int == b.centroids_int
    assert a.search(query_id=0).collect() == b.search(query_id=0).collect()


def test_vector_normalizer_unit_norm(spark):
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    from dataframe_pipeline_spark.similarity import VectorNormalizer

    out = VectorNormalizer().transform(emb).select("vec_id", "vec_norm")
    rows = out.limit(20).collect()
    for r in rows:
        v = np.array(r.vec_norm)
        # quantization + per-component rounding keeps the norm within 1e-3
        assert abs(np.linalg.norm(v) - 1.0) < 1e-3


def test_random_projector_matches_numpy(spark):
    """Projected values equal the integer dot products of the quantized
    inputs against the seed-derived quantized matrix."""
    import numpy as np

    from dataframe_pipeline_spark.similarity import RandomProjector

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rp = RandomProjector(in_dim=64, out_dim=4, seed=7)
    # select by key, not limit(): transform spreads (repartitions) its
    # input, so limit's row sample would differ between the two frames
    got = {r.vec_id: [r.proj_0, r.proj_1, r.proj_2, r.proj_3]
           for r in rp.transform(emb).filter("vec_id < 50").collect()}
    src = {r.vec_id: r.embedding
           for r in emb.filter("vec_id < 50").collect()}
    planes = np.array(rp.planes, dtype=np.int64)
    for vid, vec in src.items():
        q = np.array([int(np.floor(abs(float(x)) * 1000 + 0.5))
                      * (1 if float(x) >= 0 else -1) for x in vec],
                     dtype=np.int64)
        assert got[vid] == list(planes @ q), vid


def test_random_projector_preserves_similarities(spark):
    """JL sanity: cosine similarities in 16-dim projected space track
    the full 64-dim cosines (high correlation across random pairs)."""
    import numpy as np

    from dataframe_pipeline_spark.similarity import RandomProjector

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def corr(out_dim):
        rp = RandomProjector(in_dim=64, out_dim=out_dim, seed=42)
        rows = rp.transform(emb).select(
            "embedding", *[f"proj_{j}" for j in range(out_dim)]).collect()
        V = np.array([r.embedding for r in rows], dtype=np.float64)
        P = np.array([[getattr(r, f"proj_{j}") for j in range(out_dim)]
                      for r in rows], dtype=np.float64)
        V /= np.linalg.norm(V, axis=1, keepdims=True)
        P /= np.linalg.norm(P, axis=1, keepdims=True)
        return np.corrcoef((V[:40] @ V.T).ravel(),
                           (P[:40] @ P.T).ravel())[0, 1]

    # the testdata's true-similarity spread is small (σ≈0.13), so the
    # JL error term (~1/sqrt(k)) dominates at small k; the invariant is
    # that fidelity RISES with out_dim and is substantial by k=32
    c8, c32 = corr(8), corr(32)
    assert c8 > 0.15, c8
    assert c32 > 0.5, c32
    assert c32 > c8


def test_ann_recall_report(spark):
    """IVF recall measured against brute force on a clustered corpus:
    near-duplicate vectors must be recalled; the report machinery
    dispatches over both index types."""
    import numpy as np

    from dataframe_pipeline_spark.similarity import (CosineTopK,
                                                     HyperplaneLSHIndex,
                                                     IVFIndex,
                                                     ann_recall_report,
                                                     recall_at_k)
    rng = np.random.default_rng(5)
    base = rng.normal(size=(4, 16))
    rows = []
    for i in range(40):
        v = base[i % 4] + rng.normal(scale=0.05, size=16)
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    ivf = IVFIndex(k=5, n_lists=4, n_probe=2).fit(df)
    rep = ann_recall_report(df, [0, 1, 2], k=5, index=ivf)
    assert len(rep) == 3
    assert all(0.0 <= r <= 1.0 for _, r in rep)
    assert sum(r for _, r in rep) / 3 >= 0.6      # clustered: high recall

    lsh = HyperplaneLSHIndex(k=5, n_planes=2, dim=16)
    rep2 = ann_recall_report(df, [0], k=5, index=lsh)
    assert 0.0 <= rep2[0][1] <= 1.0

    # identical result sets -> recall 1.0; disjoint -> 0.0
    ex = CosineTopK(k=3).search(df, 0)
    assert recall_at_k(ex, ex) == 1.0


def test_ivf_search_batch_matches_per_query(spark):
    from dataframe_pipeline_spark.similarity import IVFIndex

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = IVFIndex(k=5, n_lists=8, n_probe=2).fit(emb)
    queries = (emb.filter(F.col("vec_id") < 4)
               .select(F.col("vec_id").alias("qid"), "embedding"))
    batch = idx.search_batch(queries, q_id_col="qid", exclude_self=True)
    got = {(r["qid"], r["vec_id"], r["cosine"]) for r in batch.collect()}
    exp = set()
    for q in range(4):
        for r in idx.search(query_id=q).collect():
            exp.add((q, r["vec_id"], r["cosine"]))
    assert got == exp


def test_ivf_search_batch_local_matches_distributed(spark):
    """The replica-backed small-batch path (r9) must return the exact
    rows (ids AND 6-dp cosines) search_batch returns — for BOTH input
    shapes (driver-side row list and DataFrame), with and without
    exclude_self — and refuse batches past the size gate."""
    from dataframe_pipeline_spark.similarity import IVFIndex

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = IVFIndex(k=5, n_lists=8, n_probe=2).fit(emb)
    queries = (emb.filter(F.col("vec_id") < 6)
               .select(F.col("vec_id").alias("qid"), "embedding"))
    q_rows = [(r["qid"], list(r["embedding"])) for r in queries.collect()]
    for excl in (True, False):
        want = {(r["qid"], r["vec_id"], r["cosine"])
                for r in idx.search_batch(
                    queries, q_id_col="qid", exclude_self=excl).collect()}
        got_df_input = set(idx.search_batch_local(
            queries, q_id_col="qid", exclude_self=excl))
        got_rows_input = set(idx.search_batch_local(
            q_rows, exclude_self=excl))
        assert got_df_input == want
        assert got_rows_input == want
    with pytest.raises(ValueError, match="gated"):
        idx.search_batch_local(q_rows, max_rows=3)
    with pytest.raises(ValueError, match="gated"):
        idx.search_batch_local(queries, q_id_col="qid", max_rows=3)


def test_ivf_append_invalidates_batch_local_replica(spark):
    """ADVICE r9: append() must drop the cached serving replica so
    search_batch_local sees the appended vectors — bit-parity with
    search_batch must hold ACROSS an append, not just on first call."""
    from dataframe_pipeline_spark.similarity import IVFIndex

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.filter("vec_id % 5 != 0")
    batch = emb.filter("vec_id % 5 = 0")
    idx = IVFIndex(k=5, n_lists=4, n_probe=4).fit(corpus)
    queries = (emb.filter(F.col("vec_id") < 4)
               .select(F.col("vec_id").alias("qid"), "embedding"))
    # warm the replica cache against the PRE-append corpus
    pre = set(idx.search_batch_local(queries, q_id_col="qid"))
    assert pre
    idx.append(batch)
    want = {(r["qid"], r["vec_id"], r["cosine"])
            for r in idx.search_batch(queries, q_id_col="qid").collect()}
    got = set(idx.search_batch_local(queries, q_id_col="qid"))
    assert got == want                        # parity after append
    assert any(v % 5 == 0 for _, v, _ in got)  # appended ids visible


def test_ivf_write_never_persists_replica(spark, tmp_path):
    """ADVICE r10: write() on an index with a WARM serving replica must
    not pickle it into the manifest — otherwise append_write extends the
    parquet cells while a reloaded index serves the stale pre-append
    corpus from the pickled replica, breaking search_batch parity."""
    from dataframe_pipeline_spark.similarity import IVFIndex

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.filter("vec_id % 5 != 0")
    batch = emb.filter("vec_id % 5 = 0")
    idx = IVFIndex(k=5, n_lists=4, n_probe=4).fit(corpus)
    queries = (emb.filter(F.col("vec_id") < 4)
               .select(F.col("vec_id").alias("qid"), "embedding"))
    assert idx.search_batch_local(queries, q_id_col="qid")  # warm replica
    assert idx._replica is not None

    path = str(tmp_path / "ivf_warm")
    idx.write(path)
    loaded = IVFIndex.read(spark, path)
    assert loaded._replica is None            # transient never persisted

    loaded.append_write(batch, path)          # extend the written cells
    fresh = IVFIndex.read(spark, path)
    want = {(r["qid"], r["vec_id"], r["cosine"])
            for r in fresh.search_batch(queries, q_id_col="qid").collect()}
    got = set(fresh.search_batch_local(queries, q_id_col="qid"))
    assert got == want                        # parity over old + new files
    assert any(v % 5 == 0 for _, v, _ in got)  # appended ids visible


def test_ivf_serving_replica_matches_distributed_probe(spark):
    """The in-process serving replica (r8) must return the exact rows
    the distributed probe returns — ids AND 6-dp cosines — for many
    query vectors, including rounded tie-groups and the exclude-id
    path."""
    from dataframe_pipeline_spark.similarity import IVFIndex

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = IVFIndex(k=5, n_lists=8, n_probe=2).fit(emb)
    rep = idx.serving_replica()
    qrows = emb.filter(F.col("vec_id") < 8).collect()
    for qr in qrows:
        vec = list(qr["embedding"])
        want = [(r["vec_id"], r["cosine"])
                for r in idx.search_vec(vec).collect()]
        assert rep.search_vec(vec) == want
    # exclude-id path (the search(query_id) shape)
    vec0 = list(qrows[0]["embedding"])
    want = [(r["vec_id"], r["cosine"])
            for r in idx.search(query_id=qrows[0]["vec_id"]).collect()]
    assert rep.search_vec(vec0, exclude_id=qrows[0]["vec_id"]) == want
    # a cell-sharded replica serves only its cells (the fan-out unit)
    some_cell = next(iter(rep._cells))
    shard = idx.serving_replica(cells=[some_cell])
    assert set(shard._cells) == {some_cell}


def test_pq_serving_replica_matches_distributed_adc(spark):
    """Compressed serving replica (r8): exact-integer ADC means the
    replica must equal the distributed codes scan row-for-row."""
    from dataframe_pipeline_spark.similarity import PQIndex

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = PQIndex(k=5, m=8, k_sub=16).fit(emb)
    rep = idx.serving_replica()
    for qr in emb.filter(F.col("vec_id") < 6).collect():
        vec = list(qr["embedding"])
        want = [(r["vec_id"], r["adc_dist"])
                for r in idx.search_vec(vec).collect()]
        assert rep.search_vec(vec) == want
        want_x = [(r["vec_id"], r["adc_dist"])
                  for r in idx.search_vec(vec, exclude_id=qr["vec_id"])
                  .collect()]
        assert rep.search_vec(vec, exclude_id=qr["vec_id"]) == want_x


def test_ivfpq_serving_replica_matches_distributed_probe(spark):
    """Cell-sharded compressed replica (r8) vs the distributed
    partition-pruned ADC probe — bit-identical, including the
    exclude-id path and a single-cell shard."""
    from dataframe_pipeline_spark.similarity import IVFPQIndex

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = IVFPQIndex(k=5, n_lists=8, n_probe=2, m=8, k_sub=16).fit(emb)
    rep = idx.serving_replica()
    for qr in emb.filter(F.col("vec_id") < 6).collect():
        vec = list(qr["embedding"])
        want = [(r["vec_id"], r["adc_dist"])
                for r in idx.search_vec(vec, id_col="vec_id").collect()]
        assert rep.search_vec(vec) == want
        want_x = [(r["vec_id"], r["adc_dist"])
                  for r in idx.search_vec(vec, id_col="vec_id",
                                          exclude_id=qr["vec_id"])
                  .collect()]
        assert rep.search_vec(vec, exclude_id=qr["vec_id"]) == want_x
    some_cell = next(iter(rep._cells))
    shard = idx.serving_replica(cells=[some_cell])
    assert set(shard._cells) == {some_cell}


def test_ivf_search_batch_plan(spark, tmp_path):
    from dataframe_pipeline_spark.similarity import IVFIndex

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = IVFIndex(k=3, n_lists=8, n_probe=2).fit(emb)
    path = str(tmp_path / "ivf_idx")
    idx.write(path)
    reloaded = IVFIndex.read(spark, path)
    queries = (emb.filter(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("qid"), "embedding"))
    out = reloaded.search_batch(queries, q_id_col="qid")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # per-query top-k as bounded window heaps, not a global sort
    assert "WindowGroupLimit" in plan
    # no Python anywhere in the batch path
    assert "EvalPython" not in plan
    # the probed cells join keyed on the partition column of the layout
    assert "__list" in plan
    # the r9 headline fix, pinned (VERDICT r9 #3): the cell join must
    # carry dynamic partition pruning into the __list-partitioned scan
    # — without it the batch join rescans every cell file
    assert "dynamicpruning" in plan


# ==========================================================================
# Product quantization (r6)
# ==========================================================================

@pytest.fixture(scope="module")
def pq_fitted(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    return emb, sim.PQIndex(k=5, m=8, k_sub=16).fit(emb)


def test_pq_encode_matches_python_replay(pq_fitted):
    """The distributed codegen encoder and the pure-Python twin assign
    identical codes (exact integer distances, first-occurrence ties)."""
    emb, idx = pq_fitted
    rows = emb.filter(F.col("vec_id") < 20).collect()
    got = {r["vec_id"]: list(r["__codes"]) for r in
           idx._codes.filter(F.col("vec_id") < 20).collect()}
    for r in rows:
        q_int = sim.quantize_centroid(list(r["embedding"]))
        assert got[r["vec_id"]] == sim.pq_encode_py(q_int, idx.codebooks)


def test_pq_codes_are_partition_invariant(spark, pq_fitted):
    emb, idx = pq_fitted
    shuffled = emb.repartition(7)
    idx2 = sim.PQIndex(k=5, m=8, k_sub=16).fit(shuffled)
    assert idx2.codebooks == idx.codebooks
    a = {r["vec_id"]: list(r["__codes"]) for r in idx._codes.collect()}
    b = {r["vec_id"]: list(r["__codes"]) for r in idx2._codes.collect()}
    assert a == b


def test_pq_adc_matches_python_tables(pq_fitted):
    """ADC distances from the plan equal table-lookup sums computed
    from the Python-side tables over the Python-side codes."""
    emb, idx = pq_fitted
    qrow = emb.filter(F.col("vec_id") == 0).head()
    q_int = sim.quantize_centroid(list(qrow["embedding"]))
    tables = sim.pq_adc_tables(q_int, idx.codebooks)
    out = {r["vec_id"]: r["adc_dist"]
           for r in idx.search_vec(list(qrow["embedding"]),
                                   exclude_id=0).collect()}
    codes = {r["vec_id"]: list(r["__codes"]) for r in
             idx._codes.filter(F.col("vec_id").isin(*out)).collect()}
    for vid, dist in out.items():
        assert dist == sum(t[c] for t, c in zip(tables, codes[vid]))


def test_pq_rerank_recall_beats_adc(pq_fitted):
    """Two-stage retrieval recovers recall: rerank>=ADC-only, and the
    reranked result reaches near-brute-force on this corpus."""
    emb, idx = pq_fitted
    ex = sim.CosineTopK(k=5).search(emb, 0)
    adc_only = idx.search(query_id=0)
    reranked = idx.search(query_id=0, rerank=8)
    r_adc = sim.recall_at_k(adc_only, ex)
    r_rr = sim.recall_at_k(reranked, ex)
    assert r_rr >= r_adc
    assert r_rr >= 0.6
    # reranked output is exact cosine, descending
    rows = reranked.collect()
    assert [r.cosine for r in rows] == sorted(
        (r.cosine for r in rows), reverse=True)


def test_pq_adc_plan_is_scan_only(pq_fitted):
    """The compressed-scan path must be a projection + top-k heap:
    no join, no exchange beyond the k-row ordered merge."""
    emb, idx = pq_fitted
    qrow = emb.filter(F.col("vec_id") == 0).head()
    plan = idx.search_vec(list(qrow["embedding"]),
                          exclude_id=0)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pq_rerank_plan_broadcasts_candidates(pq_fitted):
    """Stage 2 joins the tiny candidate pool broadcast-side against the
    source vectors — a BroadcastHashJoin, never a nested loop."""
    emb, idx = pq_fitted
    plan = idx.search(query_id=0, rerank=4)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pq_persistence_roundtrip(spark, pq_fitted, tmp_path):
    """write/read restores codebooks + codes; a reloaded probe returns
    bit-identical ADC results.  The raw vectors are NOT persisted —
    the codes table IS the index."""
    emb, idx = pq_fitted
    qrow = emb.filter(F.col("vec_id") == 0).head()
    vec = list(qrow["embedding"])
    path = str(tmp_path / "pq_idx")
    idx.write(path)
    idx2 = sim.PQIndex.read(spark, path)
    assert idx2.codebooks == idx.codebooks
    assert idx2._src is None
    a = [(r["vec_id"], r["adc_dist"])
         for r in idx.search_vec(vec, exclude_id=0).collect()]
    b = [(r["vec_id"], r["adc_dist"])
         for r in idx2.search_vec(vec, exclude_id=0, id_col="vec_id").collect()]
    assert a == b


# ==========================================================================
# IVF-PQ (r6)
# ==========================================================================

def _separable_corpus(spark, per_cluster=25, noise=0.02, dim=8, seed=7):
    """Tight, well-separated clusters — the regime PQ codes are built
    for (within-cluster distances << between-cluster distances)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = np.eye(4, dim) * 10.0
    rows = []
    vid = 0
    for c in centers:
        for _ in range(per_cluster):
            rows.append((vid, [float(x) for x in
                               c + rng.normal(0, noise, dim)]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ivfpq_encode_matches_python_replay(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = sim.IVFPQIndex(k=5, n_lists=8, n_probe=2, m=8, k_sub=16).fit(emb)
    rows = emb.filter(F.col("vec_id") < 15).collect()
    got = {r["vec_id"]: (r["__list"], list(r["__codes"])) for r in
           idx._table.filter(F.col("vec_id") < 15).collect()}
    for r in rows:
        q_int = sim.quantize_centroid(list(r["embedding"]))
        cell = sim.probe_cells(q_int, idx.coarse_int, 1)[0]
        res = [x - c for x, c in zip(q_int, idx.coarse_int[cell])]
        assert got[r["vec_id"]] == (cell, sim.pq_encode_py(res, idx.codebooks))


def test_ivfpq_recall_on_separable_corpus(spark):
    """On clustered data the coarse quantizer is exact (every retrieved
    id comes from the query's cluster — the structural IVF guarantee)
    and ADC alone recovers most of the brute-force top-k even though
    within-cluster members are near-equidistant; a small rerank pool
    closes the rest."""
    emb = _separable_corpus(spark)
    idx = sim.IVFPQIndex(k=5, n_lists=4, n_probe=1, m=4, k_sub=16).fit(emb)
    ex = sim.CosineTopK(k=5).search(emb, 0)
    got = idx.search(query_id=0)
    # structural: probe-pruned retrieval stays inside cluster 0 (ids 0-24)
    assert all(r["vec_id"] < 25 for r in got.collect())
    assert sim.recall_at_k(got, ex) >= 0.4
    assert sim.recall_at_k(idx.search(query_id=0, rerank=5), ex) >= 0.8


def test_ivfpq_adc_plan_has_no_join(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = sim.IVFPQIndex(k=5, n_lists=8, n_probe=2, m=8, k_sub=16).fit(emb)
    qvec = list(emb.filter("vec_id = 0").head()["embedding"])
    plan = idx.search_vec(qvec, exclude_id=0)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_ivfpq_probe_from_disk_is_partition_pruned(spark, tmp_path):
    """A reloaded IVF-PQ probe is a PartitionFilter scan on __list —
    the compressed index AND the pruned read compose: a probe touches
    n_probe/n_lists of a codes table that is itself ~30x smaller than
    the raw vectors."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qvec = list(emb.filter("vec_id = 0").head()["embedding"])
    idx = sim.IVFPQIndex(k=5, n_lists=4, n_probe=2, m=8, k_sub=16).fit(emb)
    path = str(tmp_path / "ivfpq")
    idx.write(path)
    idx2 = sim.IVFPQIndex.read(spark, path)
    assert idx2.coarse_int == idx.coarse_int
    assert idx2.codebooks == idx.codebooks
    plan = idx2.search_vec(qvec, id_col="vec_id")._jdf.queryExecution() \
        .executedPlan().toString()
    scans = [l for l in plan.splitlines()
             if "FileScan" in l and "PartitionFilters: [" in l]
    assert scans and all("__list" in s.split("PartitionFilters: [", 1)[1]
                         for s in scans)
    # reloaded results == in-session results
    a = [(r["vec_id"], r["adc_dist"])
         for r in idx.search_vec(qvec, exclude_id=0).collect()]
    b = [(r["vec_id"], r["adc_dist"])
         for r in idx2.search_vec(qvec, exclude_id=0,
                                  id_col="vec_id").collect()]
    assert a == b


def test_ivf_append_equals_fit_assignment_of_union(spark):
    """append() assigns the batch with the SAME fitted centroids, so an
    appended index's cell table equals assigning the union against
    those centroids — and search sees appended vectors."""
    from dataframe_pipeline_spark.similarity import IVFIndex

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.filter("vec_id % 5 != 0")
    batch = emb.filter("vec_id % 5 = 0")
    idx = IVFIndex(k=5, n_lists=4, n_probe=4).fit(corpus)
    cents_before = [list(c) for c in idx.centroids_int]
    idx.append(batch)
    assert idx.centroids_int == cents_before      # never retrains
    whole = idx._assign(emb, "vec_id")
    assert (sorted((r.vec_id, r.__list if hasattr(r, '__list') else r['__list'])
                   for r in idx._assigned.select("vec_id", "__list").collect())
            == sorted((r.vec_id, r['__list'])
                      for r in whole.select("vec_id", "__list").collect()))
    # a query id that only exists in the appended batch is searchable
    got = idx.search(query_id=0)
    assert 0 < got.count() <= 5


def test_ivf_append_write_roundtrip(spark, tmp_path):
    """append_write extends the persisted __list-partitioned layout:
    reload sees corpus + batch, and the append touches only partition
    subdirs (no manifest rewrite)."""
    import os

    from dataframe_pipeline_spark.similarity import IVFIndex

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.filter("vec_id % 5 != 0")
    batch = emb.filter("vec_id % 5 = 0")
    idx = IVFIndex(k=5, n_lists=4, n_probe=2).fit(corpus)
    path = str(tmp_path / "idx")
    idx.write(path)
    manifest_mtime = os.path.getmtime(os.path.join(path, "manifest.pkl"))
    idx.append_write(batch, path)
    assert os.path.getmtime(
        os.path.join(path, "manifest.pkl")) == manifest_mtime
    reloaded = IVFIndex.read(spark, path)
    assert reloaded._assigned.count() == emb.count()
    # in-session append == persisted append, row for row
    idx2 = IVFIndex(k=5, n_lists=4, n_probe=2).fit(corpus).append(batch)
    assert (sorted(map(tuple, reloaded._assigned
                       .select("vec_id", "__list").collect()))
            == sorted(map(tuple, idx2._assigned
                          .select("vec_id", "__list").collect())))

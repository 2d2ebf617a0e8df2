"""Dedup operators: exact, n-gram Jaccard, MinHash-LSH, SimHash,
quantized-cosine — golden small-frame tests."""

import pytest
from pyspark.sql import functions as F

from dataframe_pipeline_spark import dedup as dd


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),      # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat"),      # near dup
        (3, "completely different text with no overlap at all"),
        (4, "the quick brown fox jumps over the lazy dog"),      # exact dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_survivors(docs):
    out = dd.ExactDeduplicator().survivors(docs).orderBy("doc_id").collect()
    assert [(r.doc_id, r.n_copies) for r in out] == [(0, 3), (2, 1), (3, 1)]


def test_exact_dedup_transform(docs):
    out = dd.ExactDeduplicator().transform(docs)
    assert sorted(r.doc_id for r in out.collect()) == [0, 2, 3]
    assert out.columns == docs.columns


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], "text string")
    out = df.select(dd.shingle_expr("text").alias("s")).collect()
    assert out[0].s == ["a b c", "b c d"]
    assert out[1].s == []  # shorter than n -> empty, not an error


def test_ngram_jaccard_pairs(docs):
    # docs 0/1/4 identical (jaccard 1.0); 0-2 share 6 of their 7 shingles
    # each -> J = 6 / (7 + 7 - 6) = 0.75
    out = dd.NgramJaccardDeduplicator(threshold=0.5).pairs(docs)
    got = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    assert got[(0, 1)] == 1.0 and got[(0, 4)] == 1.0 and got[(1, 4)] == 1.0
    assert got[(0, 2)] == pytest.approx(0.75, abs=1e-6)
    assert not any(3 in p for p in got)


def test_minhash_catches_exact_dups(docs):
    out = dd.MinHashLSHDeduplicator(threshold=0.9).pairs(docs)
    got = {(r.id_a, r.id_b) for r in out.collect()}
    assert {(0, 1), (0, 4), (1, 4)} <= got
    assert not any(3 in p for p in got)


def test_simhash_identical_and_different(docs):
    out = {r.doc_id: r.simhash
           for r in dd.SimHasher().transform(docs).collect()}
    assert out[0] == out[1] == out[4]          # identical text -> same fp
    assert out[0] != out[3]                    # disjoint text -> different fp
    assert 0 <= out[0] < (1 << 60)


def test_quantized_cosine_pairs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.001, 0.0, 0.0]),   # ~same direction
        (2, [0.0, 1.0, 0.0, 0.0]),     # orthogonal
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    d = dd.QuantizedCosineDeduplicator(threshold=0.9, dim=4, n_planes=2)
    exact = {(r.id_a, r.id_b): r.cosine
             for r in d.pairs(df, bucketed=False).collect()}
    assert list(exact) == [(0, 1)]
    assert exact[(0, 1)] == pytest.approx(1.0, abs=1e-5)
    # bucketed result is a subset of exact pairs
    bucketed = {(r.id_a, r.id_b) for r in d.pairs(df, bucketed=True).collect()}
    assert bucketed <= set(exact)


def test_hash_expr_matches_python(spark):
    # the Spark h32 must equal the python twin used to build oracle SQL
    import hashlib
    expected = int(hashlib.md5(b"hello").hexdigest()[:8], 16)
    got = spark.range(1).select(
        F.expr(dd.h32_expr("'hello'")).alias("h")).first().h
    assert got == expected


def test_connected_components_chain(spark):
    """A chain a-b, b-c, plus isolated pair d-e: two components."""
    import pandas as pd
    from dataframe_pipeline_spark.dedup import connected_components

    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 2, 10], "id_b": [2, 3, 11]}))
    out = {r.node: r.comp for r in connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_deep_path(spark):
    """A 60-node path graph converges well under max_iter thanks to
    pointer doubling (O(log n) rounds, not O(n))."""
    import pandas as pd
    from dataframe_pipeline_spark.dedup import connected_components

    n = 60
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": list(range(n - 1)),
                      "id_b": list(range(1, n))}))
    out = {r.node: r.comp for r in
           connected_components(pairs, max_iter=12).collect()}
    assert out == {i: 0 for i in range(n)}


def test_connected_components_unconverged_raises(spark):
    """Non-convergence raises AND releases every checkpoint it pinned
    (ADVICE r10: the final label generation used to leak on this exact
    path — executor storage must return to its pre-call state)."""
    import pandas as pd
    import pytest as pt
    from dataframe_pipeline_spark.dedup import connected_components

    n = 40
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": list(range(n - 1)),
                      "id_b": list(range(1, n))}))
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet())
    with pt.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=1)
    leaked = set(sc._jsc.getPersistentRDDs().keySet()) - before
    assert not leaked, f"failure path left checkpoints pinned: {leaked}"


def _synthetic_embeddings(spark, n, dim=16):
    """Deterministic md5-derived pseudo-random vectors in [-1, 1]."""
    from pyspark.sql import functions as F

    comp = ("(cast(conv(substring(md5(concat(cast(id as string), '_', d)),"
            "1,8),16,10) as bigint) % 2001 - 1000) / 1000.0")
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(f"transform(sequence(0, {dim - 1}), d -> {comp})")
        .alias("embedding"),
    )


def test_sign_lsh_auto_planes_bucket_occupancy_bounded(spark):
    """n_planes='auto' scales plane count with corpus size so bucket
    occupancy — and with it the within-bucket all-pairs cost
    Σ n_b² / n per row — stays ~constant as rows grow, instead of the
    n²/2^p blowup a fixed plane count gives."""
    from pyspark.sql import functions as F

    from dataframe_pipeline_spark.dedup import QuantizedCosineDeduplicator

    per_row_cost = {}
    for n in (1024, 8192):
        d = QuantizedCosineDeduplicator(n_planes="auto", dim=16)
        emb = _synthetic_embeddings(spark, n)
        d._resolve_planes(emb)
        assert d.n_planes == d.planes_for(n)
        q = (d._quant(emb, "vec_id", "embedding")
             .withColumn("__bucket", d.bucket_col()))
        stats = (q.groupBy("__bucket").count()
                 .agg(F.max("count").alias("mx"),
                      F.sum(F.col("count") * F.col("count")).alias("ss"))
                 .head())
        per_row_cost[n] = stats["ss"] / n
        assert stats["mx"] <= 16, f"bucket piled up at n={n}: {stats['mx']}"
    # 8x the rows must NOT mean ~8x the per-row candidate work
    assert per_row_cost[8192] <= per_row_cost[1024] * 2.0

    # the rule itself: +margin over log2(n), capped at one BIGINT
    assert QuantizedCosineDeduplicator.planes_for(1024) == 14
    assert QuantizedCosineDeduplicator.planes_for(10**9) == 34
    assert QuantizedCosineDeduplicator.planes_for(2**60) == 60


def test_segment_deduplicator(spark):
    """8-word segments shared by ≥2 docs are removed corpus-wide; docs
    reassemble from surviving segments in order; all-boilerplate docs
    drop out."""
    from dataframe_pipeline_spark.dedup import SegmentDeduplicator

    boiler = "p q r s"                       # shared 4-word segment
    docs = spark.createDataFrame(
        [(0, f"{boiler} a b c d"),           # segment 0 shared, seg 1 unique
         (1, f"{boiler} e f g h"),
         (2, boiler),                        # only the shared segment
         (3, "i j k l m")],                  # untouched (5 words → 2 segs)
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           SegmentDeduplicator(k=4, max_doc_freq=1).transform(docs).collect()}
    assert set(out) == {0, 1, 3}             # doc 2 was pure boilerplate
    assert out[0].cleaned == "a b c d" and out[0].n_segments == 1
    assert out[1].cleaned == "e f g h"
    assert out[3].cleaned == "i j k l m" and out[3].n_segments == 2


def test_incremental_dedup_against_snapshot(spark):
    """Batch rows already in the snapshot drop; within-batch dups keep
    the min id; genuinely new content survives untouched."""
    snap = spark.createDataFrame(
        [(0, "alpha bravo"), (1, "charlie delta")],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, "alpha bravo"),      # already in corpus -> drop
         (11, "echo foxtrot"),     # new -> keep
         (12, "echo foxtrot"),     # within-batch dup -> drop (11 wins)
         (13, "golf hotel")],      # new -> keep
        "doc_id long, text string")
    inc = dd.IncrementalDeduplicator()
    kept = sorted(r.doc_id for r in
                  inc.transform(batch, inc.digests(snap)).collect())
    assert kept == [11, 13]


def test_incremental_dedup_digest_index_roundtrip(spark, tmp_path):
    """The persisted digest index (64 B/doc) replaces the corpus scan:
    dedup against the parquet index equals dedup against the frame."""
    snap = spark.createDataFrame(
        [(0, "alpha bravo"), (1, "charlie delta")],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, "alpha bravo"), (11, "echo foxtrot")],
        "doc_id long, text string")
    inc = dd.IncrementalDeduplicator()
    idx_path = str(tmp_path / "digest_idx")
    inc.digests(snap).write.parquet(idx_path)
    from_idx = inc.transform(batch, spark.read.parquet(idx_path))
    from_frame = inc.transform(batch, inc.digests(snap))
    assert sorted(r.doc_id for r in from_idx.collect()) \
        == sorted(r.doc_id for r in from_frame.collect())


def test_simhash_max_band_freq_guard(spark):
    """The hot-band cap prunes degenerate bands deterministically:
    capped pairs ⊆ uncapped pairs, and a corpus whose docs all share a
    band collapses to zero candidates under a tight cap while true
    near-dups in small bands survive."""
    from dataframe_pipeline_spark.dedup import SimHasher

    rows = [(i, "alpha beta gamma delta epsilon")
            for i in range(20)]                 # 20 identical template docs
    rows += [(100, "totally different words entirely here"),
             (101, "totally different words entirely here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = SimHasher()
    full = {(r.id_a, r.id_b) for r in sh.pairs(df).collect()}
    capped = {(r.id_a, r.id_b)
              for r in sh.pairs(df, max_band_freq=5).collect()}
    assert capped <= full
    assert len(full) == 190 + 1        # C(20,2) template pairs + the dup
    # identical fingerprints flood every template band past the cap:
    # the quadratic cluster is pruned, the small-band dup survives
    assert capped == {(100, 101)}


def test_record_linker_self_and_cross(spark):
    """Blocking bounds candidates; normalized-levenshtein scoring finds
    near-identical names; weights blend multiple fields."""
    from dataframe_pipeline_spark.dedup import RecordLinker

    rows = [(1, "US", "Acme Corp", "100 Main St"),
            (2, "US", "Acme Corp.", "100 Main St"),    # near-dup of 1
            (3, "US", "Zenith Ltd", "9 Elm Rd"),
            (4, "DE", "Acme Corp", "100 Main St")]     # other block
    df = spark.createDataFrame(rows, "id long, country string, "
                                     "name string, addr string")
    linker = RecordLinker(block_on=["country"],
                          compare={"name": 2.0, "addr": 1.0},
                          threshold=0.9)
    got = {(r.id_a, r.id_b): r.score for r in linker.pairs(df, "id").collect()}
    # name sim 0.9 (lev 1/len 10) w=2, addr sim 1.0 w=1 -> 0.9333
    assert (1, 2) in got and got[(1, 2)] == pytest.approx(0.933333, abs=1e-6)
    assert all(a < b for a, b in got)                  # self-pairs ordered
    assert not any(4 in p for p in got)                # blocking respected
    # two-table linkage keeps all cross pairs above threshold
    left = df.filter("id in (1, 3)")
    right = df.filter("id in (2, 4)")
    cross = {(r.id_a, r.id_b)
             for r in linker.pairs(left, "id", right=right).collect()}
    assert cross == {(1, 2)}


def test_record_linker_null_fields_and_validation(spark):
    from dataframe_pipeline_spark.dedup import RecordLinker

    df = spark.createDataFrame(
        [(1, "US", None), (2, "US", None)], "id long, c string, name string")
    out = RecordLinker(["c"], {"name": 1.0}, threshold=0.5).pairs(df, "id")
    assert out.count() == 0                            # NULL scores 0
    import pytest as _p
    with _p.raises(ValueError, match="block_on"):
        RecordLinker([], {"name": 1.0})
    with _p.raises(ValueError, match="compare"):
        RecordLinker(["c"], {})
    with _p.raises(ValueError, match="threshold"):
        RecordLinker(["c"], {"name": 1.0}, threshold=0.0)


def test_record_linker_no_python_in_pair_loop(spark):
    from dataframe_pipeline_spark.dedup import RecordLinker

    df = spark.createDataFrame([(1, "US", "x")], "id long, c string, name string")
    out = RecordLinker(["c"], {"name": 1.0}).pairs(df, "id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_incremental_minhash_index_roundtrip(spark, docs, tmp_path):
    """Build index on a corpus half, persist, reload, screen the other
    half: exact dups across the split are flagged; disjoint text is
    not; the reloaded index flags identically to the in-session one."""
    from dataframe_pipeline_spark.dedup import IncrementalMinHashIndex

    corpus = docs.filter("doc_id in (0, 2)")      # doc 0 text == docs 1,4
    batch = docs.filter("doc_id in (1, 3, 4)")
    idx = IncrementalMinHashIndex(k=16, bands=2)
    bands = idx.build(corpus)
    live = {(r.batch_id, r.corpus_id)
            for r in idx.candidates(batch, bands).collect()}
    assert (1, 0) in live and (4, 0) in live      # exact dups flagged
    assert not any(b == 3 for b, _ in live)       # disjoint text not
    p = str(tmp_path / "mh_idx")
    idx.write(bands, p)
    reloaded = {(r.batch_id, r.corpus_id)
                for r in idx.candidates(
                    batch, IncrementalMinHashIndex.read(spark, p)).collect()}
    assert reloaded == live


# ==========================================================================
# SemanticDeduplicator (SemDeDup recipe, r6)
# ==========================================================================

def test_semantic_dedup_drops_dominated_duplicates(spark):
    """Two tight semantic groups + singletons: within every cluster the
    most-outlying member (lowest centroid_sim, ties to lower id) of a
    duplicate neighborhood survives; its dominated near-copies drop."""
    from dataframe_pipeline_spark.dedup import SemanticDeduplicator

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0, 0.0]),     # near-copy of 0
        (2, [0.98, 0.02, 0.01, 0.0]),    # near-copy of 0/1
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.01, 0.99, 0.0, 0.0]),     # near-copy of 3
        (5, [0.0, 0.0, 1.0, 0.0]),       # singleton direction
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    d = SemanticDeduplicator(threshold=0.95, n_clusters=2).fit(emb)
    assigned = {r["vec_id"]: (r["__cluster"], r["centroid_sim"]
                              if "centroid_sim" in r else r["__csim"])
                for r in d.assign(emb).collect()}
    flagged = d.flag_duplicates(emb).collect()
    dropped = {r["vec_id"] for r in flagged}
    kept = {r["vec_id"] for r in d.dedup(emb).collect()}
    assert dropped and dropped | kept == {0, 1, 2, 3, 4, 5}
    assert dropped & kept == set()
    # per cluster, the minimum (csim, id) member is never dropped
    by_cluster = {}
    for vid, (cl, csim) in assigned.items():
        by_cluster.setdefault(cl, []).append((csim, vid))
    for members in by_cluster.values():
        best = min(members)[1]
        assert best not in dropped
    # every dropped row reports its cluster + centroid_sim
    for r in flagged:
        assert r["cluster"] == assigned[r["vec_id"]][0]


def test_semantic_dedup_partition_invariant(spark):
    from dataframe_pipeline_spark.dedup import SemanticDeduplicator

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    d1 = SemanticDeduplicator(threshold=0.35, n_clusters=8).fit(emb)
    d2 = SemanticDeduplicator(threshold=0.35, n_clusters=8) \
        .fit(emb.repartition(7))
    assert d1.centroids_int == d2.centroids_int
    a = {r["vec_id"] for r in d1.flag_duplicates(emb).collect()}
    b = {r["vec_id"] for r in d2.flag_duplicates(emb.repartition(5)).collect()}
    assert a == b


def test_assign_stats_matches_codegen_assign(spark):
    """The Arrow-vectorized assignment twin (r8) must be bit-identical
    to the codegen HOF path: same cluster (first-occurrence argmin, so
    ties break identically) and same 6-dp centroid cosine (integers
    cross the Arrow boundary exactly; divide+round happen JVM-side on
    both paths)."""
    from dataframe_pipeline_spark.dedup import SemanticDeduplicator

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    d = SemanticDeduplicator(n_clusters=8).fit(emb)
    want = {r["vec_id"]: (r["__cluster"], r["__csim"])
            for r in d.assign(emb).collect()}
    got = {r["vec_id"]: (r["__cluster"], r["__csim"])
           for r in d.assign_stats(emb).collect()}
    assert got == want
    # no row-at-a-time Python in the plan — the kernel is Arrow-batched
    plan = d.assign_stats(emb)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_semantic_dedup_plan_is_cluster_keyed(spark):
    """The only join is the cluster-keyed self-join: equi-join on
    __cluster (never a nested loop / cartesian), assignment itself is
    a map-only projection."""
    from dataframe_pipeline_spark.dedup import SemanticDeduplicator

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    d = SemanticDeduplicator(threshold=0.35, n_clusters=8).fit(emb)
    assign_plan = d.assign(emb)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in assign_plan and "Join" not in assign_plan
    plan = d.flag_duplicates(emb)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_semantic_dedup_auto_cluster_count(spark):
    """n_clusters='auto' keeps expected cluster size constant (the
    anti-quadratic knob) and resolves against the corpus row count."""
    from dataframe_pipeline_spark.dedup import SemanticDeduplicator

    assert SemanticDeduplicator.clusters_for(500) == 8
    assert SemanticDeduplicator.clusters_for(50_000) == 196
    assert SemanticDeduplicator.clusters_for(10**9) == 4096  # literal cap
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    d = SemanticDeduplicator(threshold=0.35, n_clusters="auto").fit(emb)
    assert d.n_clusters == 8   # 50 rows -> floor of 8


# -- SubstringDeduplicator (ExactSubstr-style spans) ------------------------

@pytest.fixture(scope="module")
def span_docs(spark):
    # "one two three four five" appears in docs 10 and 11 at different
    # offsets; doc 12 repeats a window inside ITSELF; doc 13 is clean;
    # doc 14 is shorter than k and must contribute nothing.
    rows = [
        (10, "one two three four five alpha beta gamma delta epsilon"),
        (11, "zeta one two three four five eta theta iota kappa"),
        (12, "a b c d e x y a b c d e"),
        (13, "unrelated words that never repeat anywhere else here"),
        (14, "tiny doc"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_substring_spans(span_docs):
    sp = dd.SubstringDeduplicator(k=5).spans(span_docs)
    got = {(r.doc_id, r.span_start, r.span_end, r.n_windows)
           for r in sp.collect()}
    # docs 10/11: the shared 5-gram is one window each (offset 0 vs 1);
    # doc 12: "a b c d e" at offsets 0 and 7, one window each (the two
    # windows are 7 apart > k, so they do NOT merge).
    assert got == {(10, 0, 5, 1), (11, 1, 6, 1),
                   (12, 0, 5, 1), (12, 7, 12, 1)}


def test_substring_span_merge_overlap_and_touch(spark):
    # two copies of an 8-token run: windows at offsets 0..3 all
    # duplicated -> ONE maximal span [0, 8) with 4 windows.
    run = "p q r s t u v w"
    df = spark.createDataFrame(
        [(1, run + " filler1 filler2"), (2, "lead " + run)],
        "doc_id long, text string")
    got = {(r.doc_id, r.span_start, r.span_end, r.n_windows)
           for r in dd.SubstringDeduplicator(k=5).spans(df).collect()}
    assert got == {(1, 0, 8, 4), (2, 1, 9, 4)}


def test_substring_transform_trims_and_passthrough(span_docs):
    out = dd.SubstringDeduplicator(k=5).transform(span_docs)
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[10].text == "alpha beta gamma delta epsilon"
    assert rows[10].n_removed == 5
    assert rows[11].text == "zeta eta theta iota kappa"
    assert rows[12].text == "x y"
    assert rows[12].n_removed == 10
    # untouched docs pass through byte-identical with n_removed 0
    assert rows[13].text.startswith("unrelated") and rows[13].n_removed == 0
    assert rows[14].text == "tiny doc" and rows[14].n_removed == 0
    assert set(out.columns) == {"doc_id", "text", "n_removed"}


def test_substring_partition_invariance(span_docs):
    base = {(r.doc_id, r.span_start, r.span_end)
            for r in dd.SubstringDeduplicator(k=5).spans(span_docs).collect()}
    shuffled = {(r.doc_id, r.span_start, r.span_end)
                for r in dd.SubstringDeduplicator(k=5)
                .spans(span_docs.repartition(7)).collect()}
    assert base == shuffled


def test_substring_no_pair_join_in_plan(span_docs):
    """The scale property: the plan must contain no cartesian/BNLJ —
    duplicated windows are found by digest groupBy + semi-join, never
    by pairing documents."""
    plan = (dd.SubstringDeduplicator(k=5).spans(span_docs)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_substring_k_guard():
    with pytest.raises(ValueError):
        dd.SubstringDeduplicator(k=1)


def test_semantic_contamination_matches_python_replay(spark):
    """flag() equals a pure-Python replay: same benchmark-fitted
    clusters, same-cluster cosine screen, per-id count/max."""
    from dataframe_pipeline_spark.dedup import SemanticContaminationChecker

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bench = emb.filter("vec_id % 10 = 0")
    corpus = emb.filter("vec_id % 10 <> 0")
    chk = SemanticContaminationChecker(threshold=0.2, n_clusters=8)
    chk.fit(bench)
    got = {r["vec_id"]: (r["n_matches"], r["max_cosine"])
           for r in chk.flag(corpus).collect()}

    # python replay from the fitted integer centroids
    def quant(v):
        import math
        return [int(math.floor(abs(float(x)) * 1000 + 0.5))
                * (1 if float(x) >= 0 else -1) for x in v]

    def assign(q):
        d = [(sum((x - c) ** 2 for x, c in zip(q, cj)), j)
             for j, cj in enumerate(chk._sd.centroids_int)]
        return min(d)[1]

    rows = {r["vec_id"]: quant(r["embedding"]) for r in emb.collect()}
    import math
    want = {}
    bench_ids = [i for i in rows if i % 10 == 0]
    for cid, cq in rows.items():
        if cid % 10 == 0:
            continue
        cl, cn = assign(cq), math.sqrt(sum(x * x for x in cq))
        hits = []
        for bid in bench_ids:
            bq = rows[bid]
            if assign(bq) != cl:
                continue
            cos = round(sum(x * y for x, y in zip(cq, bq))
                        / (cn * math.sqrt(sum(x * x for x in bq))), 6)
            if cos >= 0.2:
                hits.append(cos)
        if hits:
            want[cid] = (len(hits), max(hits))
    assert got == want and len(got) > 0


def test_semantic_contamination_decontaminate_and_plan(spark):
    from dataframe_pipeline_spark.dedup import SemanticContaminationChecker

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bench = emb.filter("vec_id % 10 = 0")
    corpus = emb.filter("vec_id % 10 <> 0")
    chk = SemanticContaminationChecker(threshold=0.2, n_clusters=8).fit(bench)
    flagged = {r["vec_id"] for r in chk.flag(corpus).collect()}
    kept = {r["vec_id"] for r in chk.decontaminate(corpus).collect()}
    all_ids = {r["vec_id"] for r in corpus.collect()}
    assert kept == all_ids - flagged
    # the benchmark side broadcasts; the corpus side never nested-loops
    plan = chk.flag(corpus)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_semantic_contamination_guard(spark):
    from dataframe_pipeline_spark.dedup import SemanticContaminationChecker

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with pytest.raises(AssertionError):
        SemanticContaminationChecker().flag(emb)

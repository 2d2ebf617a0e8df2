"""Extension queries: dedup, similarity search, text analysis,
multimodal plumbing, events analytics, sources.

Same contract as queries.py — each entry pairs a Spark implementation
(built from this package's dedup/text/similarity/multimodal/streaming
modules) with a DuckDB oracle SQL string.  All hashing is md5-derived
integer arithmetic so the oracle replays the exact same computation;
all divisions have exact-integer numerators/denominators wherever a
hash value feeds a float.

Oracle SQL for the hash-heavy queries is *generated* from the same
parameters (k, bands, coefficients, hyperplanes) the Spark operators
use, so the two sides cannot drift.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import dedup as dd
from . import multimodal as mm
from . import similarity as sim
from . import streaming as st
from . import text as tx
from .queries import _r6, _t
from .sources import split_mod


def _events(spark, sf_dir):
    """Load the events table with its TIMESTAMP(NANOS) column normalized
    to a microsecond TIMESTAMP — the same truncation DuckDB applies when
    it loads TIMESTAMP_NS into its microsecond-resolution TIMESTAMP, so
    both engines see identical ts.

    Schema-driven, no session-global config mutation: Spark ≥4 reads
    parquet nanos natively as TIMESTAMP_NTZ (already micro-truncated) —
    cast to the session-zone TIMESTAMP (session tz is UTC in tests, so
    the wall-clock value is unchanged).  If a session has
    ``spark.sql.legacy.parquet.nanosAsLong`` set, ts arrives as a raw
    nanos BIGINT — integer-divide down to micros.
    """
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(ev.dtypes)["ts"]
    if ts_type == "bigint":
        return ev.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return ev.withColumn("ts", F.col("ts").cast("timestamp"))

# --------------------------------------------------------------------------
# DuckDB-dialect twins of the deterministic hash / shingle primitives
# --------------------------------------------------------------------------

def _h32_duck(e: str) -> str:
    return f"(('0x' || substr(md5({e}),1,8))::BIGINT)"


def _h60_duck(e: str) -> str:
    return f"(('0x' || substr(md5({e}),1,15))::BIGINT)"


def _shingles_duck(text: str = "text", n: int = 3) -> str:
    l = f"string_split({text}, ' ')"
    gram = " || ' ' || ".join(f"{l}[i+{j}]" for j in range(n))
    return (f"list_distinct(list_transform("
            f"generate_series(1, len({l})-{n - 1}), i -> {gram}))")


# ==========================================================================
# Deduplication
# ==========================================================================

def q_dedup_exact(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dd.ExactDeduplicator().survivors(docs)


SQL_DEDUP_EXACT = """
SELECT min(doc_id) AS doc_id, count(*) AS n_copies
FROM documents GROUP BY text
"""


def q_dedup_ngram_jaccard(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dd.NgramJaccardDeduplicator(n=3, threshold=0.95).pairs(docs)


SQL_DEDUP_NGRAM_JACCARD = f"""
WITH sh AS (SELECT doc_id, {_shingles_duck()} AS s FROM documents),
inv AS (SELECT doc_id, unnest(s) AS tok FROM sh),
inter AS (
  SELECT a.doc_id id_a, b.doc_id id_b, count(*) i
  FROM inv a JOIN inv b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, ROUND(i / (len(sa.s) + len(sb.s) - i), 6) AS jaccard
FROM inter
JOIN sh sa ON sa.doc_id = id_a
JOIN sh sb ON sb.doc_id = id_b
WHERE ROUND(i / (len(sa.s) + len(sb.s) - i), 6) >= 0.95
"""


def q_dedup_ngram_capped(spark, sf_dir):
    """The ``max_doc_freq`` stop-shingle guard under oracle: shingles in
    more than 5 docs are dropped BEFORE pairing (the skew guard that
    keeps a degenerate posting list from going quadratic at scale);
    Jaccard still divides by the FULL shingle-set sizes, so capped
    scores are a lower bound of the true score."""
    docs = _t(spark, sf_dir, "documents")
    return dd.NgramJaccardDeduplicator(
        n=3, threshold=0.9, max_doc_freq=5).pairs(docs)


SQL_DEDUP_NGRAM_CAPPED = f"""
WITH sh AS (SELECT doc_id, {_shingles_duck()} AS s FROM documents),
inv AS (SELECT doc_id, unnest(s) AS tok FROM sh),
keep AS (SELECT tok FROM inv GROUP BY tok HAVING count(*) <= 5),
inv2 AS (SELECT doc_id, tok FROM inv WHERE tok IN (SELECT tok FROM keep)),
inter AS (
  SELECT a.doc_id id_a, b.doc_id id_b, count(*) i
  FROM inv2 a JOIN inv2 b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, ROUND(i / (len(sa.s) + len(sb.s) - i), 6) AS jaccard
FROM inter
JOIN sh sa ON sa.doc_id = id_a
JOIN sh sb ON sb.doc_id = id_b
WHERE ROUND(i / (len(sa.s) + len(sb.s) - i), 6) >= 0.9
"""


def q_dedup_segments(spark, sf_dir):
    """Boilerplate-segment removal: 8-word segments occurring in ≥2
    distinct docs are dropped corpus-wide; docs are reassembled from
    surviving segments in position order."""
    docs = _t(spark, sf_dir, "documents")
    return dd.SegmentDeduplicator(k=8, max_doc_freq=1).transform(docs)


SQL_DEDUP_SEGMENTS = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
segs AS (
  SELECT doc_id, i AS pos,
         array_to_string(toks[(i*8+1):(i*8+8)], ' ') AS seg
  FROM t, unnest(generate_series(0,
        CAST(ceil(len(toks) / 8.0) AS INT) - 1)) AS g(i)),
h AS (SELECT doc_id, pos, seg, {_h60_duck('seg')} AS hh FROM segs),
common AS (
  SELECT hh FROM h GROUP BY hh HAVING count(DISTINCT doc_id) > 1)
SELECT doc_id,
       string_agg(seg, ' ' ORDER BY pos) AS cleaned,
       count(*) AS n_segments
FROM h WHERE hh NOT IN (SELECT hh FROM common)
GROUP BY doc_id
"""


def q_dedup_minhash_pairs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dd.MinHashLSHDeduplicator(k=16, bands=2, threshold=0.9).pairs(docs)


def _sql_minhash() -> str:
    k, bands, p = 16, 2, dd.MINHASH_P
    r = k // bands
    coeffs = dd.minhash_coeffs(k)
    mh = [f"list_min(list_transform(h, x -> ({a}*x + {b}) % {p}))"
          for a, b in coeffs]
    sigs = [" || ':' || ".join(f"({m})::VARCHAR" for m in mh[bi * r:(bi + 1) * r])
            for bi in range(bands)]
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, {sigs[bi]} AS sig FROM hs"
        for bi in range(bands))
    return f"""
WITH sh AS (SELECT doc_id, {_shingles_duck()} AS s FROM documents),
hs AS (SELECT doc_id, s,
              list_transform(s, t -> {_h32_duck('t')}) AS h FROM sh),
bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT a.doc_id id_a, b.doc_id id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
scored AS (
  SELECT id_a, id_b,
         len(list_filter(sa.s, x -> list_contains(sb.s, x))) AS i,
         len(sa.s) AS za, len(sb.s) AS zb
  FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b)
SELECT id_a, id_b, ROUND(i / (za + zb - i), 6) AS jaccard
FROM scored WHERE ROUND(i / (za + zb - i), 6) >= 0.9
"""


def q_dedup_minhash_incremental(spark, sf_dir):
    """Incremental NEAR-dup screening (dedup.IncrementalMinHashIndex):
    odd-id docs (the arriving batch) checked against the even-id corpus
    via the persisted-shape band index — the shuffle carries band
    signature strings, never text; corpus text is never rescanned."""
    import os

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    idx = dd.IncrementalMinHashIndex(k=16, bands=2)
    # production shape: the index is a PERSISTED parquet table (built
    # once per snapshot), the batch probes it — the write also keeps
    # the in-session query honest about cost (an unpersisted build()
    # result re-evaluates its kernel once per join reference).  The
    # build runs on EVERY call (VERDICT r12 #1: a per-(session, sf_dir)
    # memo here made min-of-N bench reads skip the fit after run 1).
    path = os.path.join(_layout_scratch_dir(), "mh_bands_live")
    idx.write(idx.build(corpus), path)
    return idx.candidates(batch, dd.IncrementalMinHashIndex.read(spark, path))


def _sql_minhash_incremental() -> str:
    k, bands, p = 16, 2, dd.MINHASH_P
    r = k // bands
    coeffs = dd.minhash_coeffs(k)
    mh = [f"list_min(list_transform(h, x -> ({a}*x + {b}) % {p}))"
          for a, b in coeffs]
    sigs = [" || ':' || ".join(f"({m})::VARCHAR" for m in mh[bi * r:(bi + 1) * r])
            for bi in range(bands)]
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, {sigs[bi]} AS sig FROM hs"
        for bi in range(bands))
    return f"""
WITH sh AS (SELECT doc_id, {_shingles_duck()} AS s FROM documents),
hs AS (SELECT doc_id, s,
              list_transform(s, t -> {_h32_duck('t')}) AS h FROM sh),
bands AS ({band_rows})
SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
FROM bands b JOIN bands c
  ON b.band = c.band AND b.sig = c.sig
WHERE b.doc_id % 2 = 1 AND c.doc_id % 2 = 0
"""


def q_dedup_clusters(spark, sf_dir):
    """MinHash near-dup pairs → transitive clusters (connected
    components), the pairs→survivor step of a full dedup pipeline."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dd.MinHashLSHDeduplicator(k=16, bands=2, threshold=0.9).pairs(docs)
    return (dd.connected_components(pairs)
            .select(F.col("node").alias("doc_id"), "comp"))


def _sql_dedup_clusters() -> str:
    return f"""
WITH RECURSIVE pr AS (
  SELECT id_a, id_b FROM ({_sql_minhash()}) t),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pr
  UNION SELECT id_b, id_a FROM pr),
reach(node, comp) AS (
  SELECT s, s FROM edges
  UNION
  SELECT e.s, r.comp FROM edges e JOIN reach r ON e.d = r.node)
SELECT node AS doc_id, min(comp) AS comp
FROM reach GROUP BY node
"""


def q_dedup_keep_canonical(spark, sf_dir):
    """Full dedup resolution: MinHash pairs → transitive clusters →
    keep the min-id member of each cluster; unpaired docs survive."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dd.MinHashLSHDeduplicator(k=16, bands=2, threshold=0.9).pairs(docs)
    return dd.keep_canonical(docs, pairs).select("doc_id")


def _sql_dedup_keep_canonical() -> str:
    return f"""
WITH RECURSIVE pr AS (
  SELECT id_a, id_b FROM ({_sql_minhash()}) t),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pr
  UNION SELECT id_b, id_a FROM pr),
reach(node, comp) AS (
  SELECT s, s FROM edges
  UNION
  SELECT e.s, r.comp FROM edges e JOIN reach r ON e.d = r.node),
losers AS (
  SELECT node FROM reach GROUP BY node HAVING node <> min(comp))
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT node FROM losers)
"""


def q_dedup_simhash(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dd.SimHasher().transform(docs).select("doc_id", "simhash")


# NOTE: the Spark kernel folds the token hashes in ONE pass (a
# zip_with vote-counter accumulator, see SimHasher.fingerprint_col);
# this twin keeps the per-bit list_sum formulation because in DuckDB
# that is the *faster* shape (0.30s vs 0.50s at sf0.1 for a
# list_reduce mirror of the accumulator) and the fingerprint values
# are provably identical either way (same votes, same signs).
SQL_DEDUP_SIMHASH = f"""
WITH hs AS (
  SELECT doc_id,
         list_transform(list_distinct(string_split(text, ' ')),
                        t -> {_h60_duck('t')}) AS h
  FROM documents)
SELECT doc_id,
       CAST(list_sum(list_transform(generate_series(0, 59), b ->
         CASE WHEN list_sum(list_transform(h, x ->
                CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END)) >= 0
              THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS simhash
FROM hs
"""


def q_dedup_simhash_pairs(spark, sf_dir):
    return dd.SimHasher().pairs(_t(spark, sf_dir, "documents"),
                                bands=4, max_hamming=3)


def _sql_simhash_pairs(bands: int = 4, width: int = 15, maxh: int = 3) -> str:
    mask = (1 << width) - 1
    return f"""
WITH hs AS (
  SELECT doc_id,
         list_transform(list_distinct(string_split(text, ' ')),
                        t -> {_h60_duck('t')}) AS h
  FROM documents),
fp AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(generate_series(0, 59), b ->
           CASE WHEN list_sum(list_transform(h, x ->
                  CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END)) >= 0
                THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS simhash
  FROM hs),
bnd AS (
  SELECT doc_id, simhash, i AS band, (simhash >> (i * {width})) & {mask} AS val
  FROM fp, unnest(generate_series(0, {bands - 1})) AS t(i))
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM bnd a JOIN bnd b
  ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {maxh}
"""


def q_dedup_simhash_capped(spark, sf_dir):
    """Banded SimHash pairs with the hot-band skew guard
    (max_band_freq=25): bands shared by more than 25 docs are pruned
    before the self-join, bounding per-band work at 25² regardless of
    corpus degeneracy — the guard that keeps this query checkable at
    sf1 where the uncapped pair set is 27.7M rows (SCALE.md)."""
    docs = _t(spark, sf_dir, "documents")
    return dd.SimHasher().pairs(docs, bands=4, max_hamming=3,
                                max_band_freq=25)


def _sql_simhash_capped(bands: int = 4, width: int = 15, maxh: int = 3,
                        cap: int = 25) -> str:
    mask = (1 << width) - 1
    return f"""
WITH hs AS (
  SELECT doc_id,
         list_transform(list_distinct(string_split(text, ' ')),
                        t -> {_h60_duck('t')}) AS h
  FROM documents),
fp AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(generate_series(0, 59), b ->
           CASE WHEN list_sum(list_transform(h, x ->
                  CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END)) >= 0
                THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS simhash
  FROM hs),
bnd0 AS (
  SELECT doc_id, simhash, i AS band, (simhash >> (i * {width})) & {mask} AS val
  FROM fp, unnest(generate_series(0, {bands - 1})) AS t(i)),
keep AS (
  SELECT band, val FROM bnd0 GROUP BY band, val HAVING count(*) <= {cap}),
bnd AS (
  SELECT bnd0.* FROM bnd0 JOIN keep USING (band, val))
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM bnd a JOIN bnd b
  ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {maxh}
"""


def q_dedup_semantic(spark, sf_dir):
    """SemDeDup-style cluster-bucketed embedding dedup (r6): k-means
    the corpus (deterministic driver-fitted centroids), compare cosine
    only within a cluster, drop anything dominated by a more-outlying
    (lower centroid-similarity) semantic duplicate — the paper's
    keep-the-outlier rule.  One map-only assignment pass + ONE
    cluster-keyed self-join; n_clusters ∝ n keeps per-cluster work
    constant at corpus scale."""
    emb = _t(spark, sf_dir, "embeddings")
    # fit runs on EVERY call (VERDICT r12 #1: the per-(session, sf_dir)
    # memo made min-of-N bench reads skip the k-means fit after run 1)
    d = dd.SemanticDeduplicator(threshold=0.35, n_clusters="auto").fit(emb)
    return d.flag_duplicates(emb)


def _sql_dedup_semantic(sf_dir: str = "/root/testdata/sf0.01") -> str | None:
    """Generated oracle: replay the deterministic trainer (same sample
    rule + numpy Lloyd's as the IVF oracle), inline fitted centroids +
    python-float centroid norms as literals, then replicate assignment
    (first-occurrence argmin), centroid similarity, and the dominance
    rule in SQL — exact integer dots, 6-dp rounding, hash-equal."""
    import hashlib
    import os

    path = f"{sf_dir}/embeddings.parquet"
    if not os.path.exists(path):
        return None
    import duckdb

    from dataframe_pipeline_spark.similarity import train_centroids

    con = duckdb.connect()
    rows = con.sql(
        f"SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) "
        f"FROM '{path}' ORDER BY vec_id").fetchall()
    con.close()
    from dataframe_pipeline_spark.dedup import SemanticDeduplicator

    n_clusters = SemanticDeduplicator.clusters_for(len(rows))
    max_train = 65536
    if len(rows) > max_train:
        mod = -(-len(rows) // max_train)
        rows = [r for r in rows if int(hashlib.md5(
            str(int(r[0])).encode()).hexdigest()[:8], 16) % mod == 0]
    cents = train_centroids([list(r[1]) for r in rows], n_clusters)
    cnrms = [float(sum(c * c for c in cj)) ** 0.5 for cj in cents]
    cent_lits = ", ".join(
        "[" + ", ".join(str(c) for c in cj) + "]" for cj in cents)
    cnrm_lits = ", ".join(repr(v) for v in cnrms)
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS q
  FROM embeddings),
n AS (
  SELECT vec_id, q,
         sqrt(CAST(list_sum(list_transform(q, x -> x*x)) AS DOUBLE)) AS nrm,
         list_transform([{cent_lits}], c ->
             list_sum(list_transform(generate_series(1, 64),
                 i -> (q[i]-c[i])*(q[i]-c[i])))) AS d
  FROM q),
asg AS (
  SELECT vec_id, q, nrm,
         CAST(list_position(d, list_min(d)) - 1 AS INTEGER) AS cl
  FROM n),
s AS (
  SELECT vec_id, q, nrm, cl,
         ROUND(CAST(list_sum(list_transform(generate_series(1, 64),
                   i -> q[i] * cent[i])) AS DOUBLE)
               / (nrm * ([{cnrm_lits}])[cl+1]), 6) AS csim
  FROM (SELECT *, ([{cent_lits}])[cl+1] AS cent FROM asg))
SELECT DISTINCT b.vec_id, b.cl AS cluster, b.csim AS centroid_sim
FROM s a JOIN s b
  ON a.cl = b.cl
 AND (a.csim < b.csim OR (a.csim = b.csim AND a.vec_id < b.vec_id))
WHERE ROUND(CAST(list_sum(list_transform(generate_series(1, 64),
          i -> a.q[i] * b.q[i])) AS DOUBLE) / (a.nrm * b.nrm), 6) >= 0.35
"""


def q_decontaminate_semantic(spark, sf_dir):
    """Cross-corpus EMBEDDING decontamination (r7,
    dedup.SemanticContaminationChecker): treat every 10th embedding as
    the benchmark/eval set, flag training items whose cosine to ANY
    same-cluster benchmark item is >= 0.2 — the embedding-level
    complement of text_contamination (paraphrased leakage passes an
    n-gram screen but not a cosine screen).  The k-means bucketing is
    fitted ON the benchmark; the corpus is scanned once, map-assigned
    against centroid literals, and broadcast-joined to the tiny
    benchmark table — the 100 TB side never shuffles before the
    screen (only flagged matches enter the final per-id aggregate)."""
    emb = _t(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") % 10 == 0)
    corpus = emb.filter(F.col("vec_id") % 10 != 0)
    # fit runs on EVERY call (VERDICT r12 #1: no cross-run fit memo)
    chk = dd.SemanticContaminationChecker(
        threshold=0.2, n_clusters=8).fit(bench)
    return chk.flag(corpus)


def _sql_decontaminate_semantic(sf_dir: str = "/root/testdata/sf0.01") -> str | None:
    """Generated oracle: replay the deterministic trainer on the
    BENCHMARK subset (vec_id % 10 = 0 — corpus rows never influence the
    fitted buckets), then replicate in SQL: quantization, assignment of
    BOTH sides against the centroid literals (first-occurrence argmin),
    the cluster-keyed bench x corpus join, the 6-dp integer cosine
    screen, and the per-corpus-item aggregate."""
    import hashlib
    import os

    path = f"{sf_dir}/embeddings.parquet"
    if not os.path.exists(path):
        return None
    import duckdb

    from dataframe_pipeline_spark.similarity import train_centroids

    con = duckdb.connect()
    rows = con.sql(
        f"SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) "
        f"FROM '{path}' WHERE vec_id % 10 = 0 ORDER BY vec_id").fetchall()
    con.close()
    max_train = 65536
    if len(rows) > max_train:
        mod = -(-len(rows) // max_train)
        rows = [r for r in rows if int(hashlib.md5(
            str(int(r[0])).encode()).hexdigest()[:8], 16) % mod == 0]
    cents = train_centroids([list(r[1]) for r in rows], 8)
    cent_lits = ", ".join(
        "[" + ", ".join(str(c) for c in cj) + "]" for cj in cents)
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS q
  FROM embeddings),
n AS (
  SELECT vec_id, q,
         sqrt(CAST(list_sum(list_transform(q, x -> x*x)) AS DOUBLE)) AS nrm,
         list_transform([{cent_lits}], c ->
             list_sum(list_transform(generate_series(1, 64),
                 i -> (q[i]-c[i])*(q[i]-c[i])))) AS d
  FROM q),
asg AS (
  SELECT vec_id, q, nrm,
         CAST(list_position(d, list_min(d)) - 1 AS INTEGER) AS cl
  FROM n)
SELECT c.vec_id, count(*) AS n_matches,
       max(ROUND(CAST(list_sum(list_transform(generate_series(1, 64),
               i -> c.q[i] * b.q[i])) AS DOUBLE) / (c.nrm * b.nrm), 6))
         AS max_cosine
FROM asg c JOIN asg b
  ON c.cl = b.cl
 AND c.vec_id % 10 <> 0 AND b.vec_id % 10 = 0
WHERE ROUND(CAST(list_sum(list_transform(generate_series(1, 64),
          i -> c.q[i] * b.q[i])) AS DOUBLE) / (c.nrm * b.nrm), 6) >= 0.2
GROUP BY c.vec_id
"""


def q_cluster_embeddings(spark, sf_dir):
    """K-means corpus clustering profile (r6): the deterministic
    trainer behind IVF/SemDeDup exposed as a first-class op — assign
    every embedding to its nearest fitted centroid (map-only codegen
    over centroid literals) and profile each cluster in ONE hash
    aggregate: size, mean cosine-to-centroid (cohesion), min/max id.
    The corpus-organization primitive under curriculum buckets, domain
    discovery, and stratified subsampling of training data.

    The k-means fit (driver-resident centroid literals — nothing to
    release) runs on every call: fitted state lives on the fitted
    object, never in module state between calls."""
    emb = _t(spark, sf_dir, "embeddings")
    d = dd.SemanticDeduplicator(n_clusters=8).fit(emb)
    # cohesion: sum the 6-dp csims in exact DECIMAL (reduction-order
    # independent), divide once in double — engine-portable.
    # assign_stats is the Arrow-vectorized assignment twin (one int64
    # matmul per batch; exact integers across the Arrow boundary, 6-dp
    # round kept JVM-side) — this profile query doesn't need the
    # quantized vectors the codegen assign() carries for the pairwise
    # dedups.  NO spread: the matmul kernel is ~100 ns/row, so a
    # repartition shuffle of the raw vectors costs more than the map
    # saves (measured 1.02s vs 0.57s at sf1); at real scale the input
    # arrives as many splits and parallelism is free.
    return (d.assign_stats(emb)
            .groupBy(F.col("__cluster").alias("cluster"))
            .agg(F.count("*").alias("n_members"),
                 F.round(
                     F.sum(F.col("__csim").cast("decimal(16,6)"))
                     .cast("double") / F.count("*"), 6)
                 .alias("avg_centroid_sim"),
                 F.min("vec_id").alias("min_id"),
                 F.max("vec_id").alias("max_id")))


def _sql_cluster_embeddings(sf_dir: str = "/root/testdata/sf0.01") -> str | None:
    """Generated oracle sharing `_sql_dedup_semantic`'s replayed
    trainer: same centroid/assignment/csim SQL, one GROUP BY."""
    import hashlib
    import os

    path = f"{sf_dir}/embeddings.parquet"
    if not os.path.exists(path):
        return None
    import duckdb

    from dataframe_pipeline_spark.similarity import train_centroids

    con = duckdb.connect()
    rows = con.sql(
        f"SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) "
        f"FROM '{path}' ORDER BY vec_id").fetchall()
    con.close()
    max_train = 65536
    if len(rows) > max_train:
        mod = -(-len(rows) // max_train)
        rows = [r for r in rows if int(hashlib.md5(
            str(int(r[0])).encode()).hexdigest()[:8], 16) % mod == 0]
    cents = train_centroids([list(r[1]) for r in rows], 8)
    cnrms = [float(sum(c * c for c in cj)) ** 0.5 for cj in cents]
    cent_lits = ", ".join(
        "[" + ", ".join(str(c) for c in cj) + "]" for cj in cents)
    cnrm_lits = ", ".join(repr(v) for v in cnrms)
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS q
  FROM embeddings),
n AS (
  SELECT vec_id, q,
         sqrt(CAST(list_sum(list_transform(q, x -> x*x)) AS DOUBLE)) AS nrm,
         list_transform([{cent_lits}], c ->
             list_sum(list_transform(generate_series(1, 64),
                 i -> (q[i]-c[i])*(q[i]-c[i])))) AS d
  FROM q),
s AS (
  SELECT vec_id, nrm, q,
         CAST(list_position(d, list_min(d)) - 1 AS INTEGER) AS cl
  FROM n)
SELECT cl AS cluster,
       COUNT(*) AS n_members,
       ROUND(CAST(SUM(CAST(ROUND(CAST(list_sum(list_transform(generate_series(1, 64),
                 i -> q[i] * cent[i])) AS DOUBLE)
             / (nrm * ([{cnrm_lits}])[cl+1]), 6) AS DECIMAL(16,6))) AS DOUBLE)
             / COUNT(*), 6) AS avg_centroid_sim,
       MIN(vec_id) AS min_id,
       MAX(vec_id) AS max_id
FROM (SELECT *, ([{cent_lits}])[cl+1] AS cent FROM s)
GROUP BY cl
"""


def q_dedup_embedding_cosine(spark, sf_dir):
    """Fixed-plane PARITY variant (n_planes=4 pinned so the static
    oracle replays the buckets).  Small plane counts mean n²/16
    within-bucket verification — quadratic in corpus size; the family
    flagship and production path is ``dedup_embedding_auto`` below,
    whose plane count grows with the corpus (constant expected bucket
    occupancy, 10x faster at sf1)."""
    emb = _t(spark, sf_dir, "embeddings")
    d = dd.QuantizedCosineDeduplicator(threshold=0.45, n_planes=4)
    return d.pairs(emb, bucketed=True)


def q_dedup_embedding_auto(spark, sf_dir):
    """Embedding near-dup pairs on the SCALE tier: n_planes='auto'
    (ceil(log2 n)+4 hyperplanes, resolved from the parquet footer row
    count) keeps expected bucket occupancy constant as the corpus
    grows — at sf1 this runs 10x faster than the fixed-4-plane oracle
    shape (4.0s vs 41s, BENCH_VS_DUCK_sf1) because within-bucket
    verification stays linear in n instead of n²/16."""
    emb = _t(spark, sf_dir, "embeddings")
    d = dd.QuantizedCosineDeduplicator(threshold=0.2, n_planes="auto")
    return d.pairs(emb, bucketed=True)


def _sql_embedding_cosine_auto(sf_dir: str) -> str:
    """Data-dependent oracle: replay the auto plane count from the same
    parquet footer row count the operator uses, so both engines bucket
    with identical hyperplanes."""
    import os

    import pyarrow.parquet as pq

    n_rows = pq.ParquetFile(
        os.path.join(sf_dir, "embeddings.parquet")).metadata.num_rows
    d = dd.QuantizedCosineDeduplicator(threshold=0.2, n_planes="auto")
    planes = d.planes_for(n_rows)
    terms = []
    for j in range(planes):
        w = d.hyperplane(j)
        dot = " + ".join(f"{'' if c > 0 else '-'}q[{i + 1}]"
                         for i, c in enumerate(w))
        terms.append(f"(CASE WHEN ({dot}) >= 0 THEN {1 << j}::BIGINT "
                     f"ELSE 0 END)")
    bucket = " + ".join(terms)
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS q
  FROM embeddings),
n AS (
  SELECT vec_id, q,
         sqrt(CAST(list_sum(list_transform(q, x -> x*x)) AS DOUBLE)) AS nrm,
         ({bucket}) AS bucket
  FROM q)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(CAST(list_sum(list_transform(generate_series(1, 64),
                i -> a.q[i] * b.q[i])) AS DOUBLE) / (a.nrm * b.nrm), 6) AS cosine
FROM n a JOIN n b
  ON a.vec_id < b.vec_id AND a.bucket = b.bucket
WHERE ROUND(CAST(list_sum(list_transform(generate_series(1, 64),
         i -> a.q[i] * b.q[i])) AS DOUBLE) / (a.nrm * b.nrm), 6) >= 0.2
"""


def _sql_embedding_cosine() -> str:
    d = dd.QuantizedCosineDeduplicator(threshold=0.45, n_planes=4)
    terms = []
    for j in range(d.n_planes):
        w = d.hyperplane(j)
        dot = " + ".join(f"{'' if c > 0 else '-'}q[{i + 1}]"
                         for i, c in enumerate(w))
        terms.append(f"(CASE WHEN ({dot}) >= 0 THEN {1 << j} ELSE 0 END)")
    bucket = " + ".join(terms)
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS q
  FROM embeddings),
n AS (
  SELECT vec_id, q,
         sqrt(CAST(list_sum(list_transform(q, x -> x*x)) AS DOUBLE)) AS nrm,
         ({bucket}) AS bucket
  FROM q)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(CAST(list_sum(list_transform(generate_series(1, 64),
                i -> a.q[i] * b.q[i])) AS DOUBLE) / (a.nrm * b.nrm), 6) AS cosine
FROM n a JOIN n b
  ON a.vec_id < b.vec_id AND a.bucket = b.bucket
WHERE ROUND(CAST(list_sum(list_transform(generate_series(1, 64),
         i -> a.q[i] * b.q[i])) AS DOUBLE) / (a.nrm * b.nrm), 6) >= 0.45
"""


# ==========================================================================
# Similarity search
# ==========================================================================

def q_sim_topk_cosine(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return sim.CosineTopK(k=10).search(emb, query_id=0)


SQL_SIM_TOPK = """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS q
  FROM embeddings),
n AS (
  SELECT vec_id, q,
         sqrt(CAST(list_sum(list_transform(q, x -> x*x)) AS DOUBLE)) AS nrm
  FROM q)
SELECT a.vec_id,
       ROUND(CAST(list_sum(list_transform(generate_series(1, 64),
                i -> a.q[i] * b.q[i])) AS DOUBLE) / (a.nrm * b.nrm), 6) AS cosine
FROM n a, (SELECT * FROM n WHERE vec_id = 0) b
WHERE a.vec_id <> 0
ORDER BY cosine DESC, a.vec_id ASC
LIMIT 10
"""


def _ivf_fitted(spark, sf_dir) -> "sim.IVFIndex":
    """A freshly fitted IVFIndex(k=5, n_lists=8, n_probe=2) over the
    full corpus — the parameters every IVF query shares.  Fit is
    deterministic (id-ordered bounded sample), so every call yields
    bit-identical centroids.  The index keeps its fit-time checkpointed
    cell table, as any ``IVFIndex.fit`` caller's does."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.IVFIndex(k=5, n_lists=8, n_probe=2).fit(emb)


def _ivf_reloaded(spark, sf_dir) -> "sim.IVFIndex":
    """The IVF index in its PARQUET-BACKED form: `_ivf_fitted` → write
    (``__list``-partitioned cell table) → release the fit-time checkpoint
    → read (the pattern `_ivfpq_fitted` uses).  The fitted index's
    ``_assigned`` is a local checkpoint whose cell join cannot
    partition-prune; the reloaded layout's ``__list`` is a real
    partition column, so `search_batch`'s cell equi-join prunes to the
    probed cells (dynamic partition pruning against the tiny exploded
    query side)."""
    import hashlib
    import os

    fitted = _ivf_fitted(spark, sf_dir)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(_ivf_scratch_dir(), f"ivf_idx_{tag}")
    fitted.write(path)
    fitted.release()
    return sim.IVFIndex.read(spark, path)


def q_sim_ann_ivf(spark, sf_dir):
    """IVF coarse-quantizer ANN — deterministic sample-trained cells,
    n_probe-cell search.  The oracle is *generated* from the identical
    trainer (``_sql_sim_ann_ivf``): the fitted integer centroids become
    SQL literals, so assignment / probe / cosine replay exactly."""
    return _ivf_fitted(spark, sf_dir).search(query_id=0)


def _sql_sim_ann_ivf(sf_dir: str = "/root/testdata/sf0.01") -> str | None:
    """Generate the IVF oracle from the same deterministic trainer the
    Spark operator uses.  The centroids are data-dependent fitted
    parameters, so (unlike the parameter-generated minhash/simhash
    oracles) this generator reads the embeddings table at the driver's
    correctness scale (sf0.01) and embeds the fitted integer centroids
    + probed cell ids as literals.  Training replays bit-for-bit: same
    id-ordered float64 sample, same single-threaded numpy Lloyd's
    (``similarity.train_centroids``); the probed cells come from the
    engine-quantized query vector via exact integer distances
    (``similarity.probe_cells``).  Returns None if the table is absent
    (oracle then degrades to the rows-only check).
    """
    import os

    path = f"{sf_dir}/embeddings.parquet"
    if not os.path.exists(path):
        return None
    import duckdb

    con = duckdb.connect()
    rows = con.sql(
        f"SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v "
        f"FROM '{path}' ORDER BY vec_id").fetchall()
    # replicate IVFIndex.fit's bounded sample above max_train: the
    # modulus derives from the parquet-footer total (cheap_row_count),
    # the filter is the content-addressed md5-mod of the id
    import hashlib

    n_total = con.sql(f"SELECT count(*) FROM '{path}'").fetchone()[0]
    if n_total > 65536:
        mod = -(-n_total // 65536)
        rows = [r for r in rows if int(hashlib.md5(
            str(int(r[0])).encode()).hexdigest()[:8], 16) % mod == 0]
    vecs = [r[1] for r in rows]
    cents = sim.train_centroids(vecs, n_lists=8)
    q_int = con.sql(
        f"SELECT list_transform(embedding, x -> "
        f"CAST(round(x::DOUBLE * 1000) AS BIGINT)) FROM '{path}' "
        f"WHERE vec_id = 0").fetchone()[0]
    con.close()
    probe = sim.probe_cells([int(x) for x in q_int], cents, n_probe=2)
    cent_lits = ", ".join(
        "[" + ", ".join(str(c) for c in cj) + "]" for cj in cents)
    in_list = ", ".join(str(p) for p in probe)
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS q
  FROM embeddings),
n AS (
  SELECT vec_id, q,
         sqrt(CAST(list_sum(list_transform(q, x -> x*x)) AS DOUBLE)) AS nrm,
         list_transform([{cent_lits}], c ->
             list_sum(list_transform(generate_series(1, 64),
                 i -> (q[i]-c[i])*(q[i]-c[i])))) AS d
  FROM q),
a AS (SELECT vec_id, q, nrm, list_position(d, list_min(d)) - 1 AS lst FROM n)
SELECT a.vec_id,
       ROUND(CAST(list_sum(list_transform(generate_series(1, 64),
                i -> a.q[i] * b.q[i])) AS DOUBLE) / (a.nrm * b.nrm), 6) AS cosine
FROM a, (SELECT q, nrm FROM a WHERE vec_id = 0) b
WHERE a.vec_id <> 0 AND a.lst IN ({in_list})
ORDER BY cosine DESC, a.vec_id ASC
LIMIT 5
"""


_IVF_SCRATCH: str | None = None


def _ivf_scratch_dir() -> str:
    """Process-scoped scratch dir for the persisted-index round-trip:
    one dir per process, reused across invocations (index writes are
    mode=overwrite) and removed at interpreter exit — no per-call
    mkdtemp leak across oracle + bench repetitions."""
    global _IVF_SCRATCH
    if _IVF_SCRATCH is None:
        import atexit
        import shutil
        import tempfile

        _IVF_SCRATCH = tempfile.mkdtemp(prefix="dfp_ivf_idx_")
        atexit.register(shutil.rmtree, _IVF_SCRATCH, ignore_errors=True)
    return _IVF_SCRATCH


def q_sim_ann_ivf_persisted(spark, sf_dir):
    """fit → write (parquet partitioned by cell) → read → probe: the
    persisted index layout must return bit-identical results to the
    in-session index, so it shares sim_ann_ivf's generated oracle.  The
    reloaded probe carries a ``__list IN (...)`` partition filter — at
    scale it scans n_probe/n_lists of the data (plan-asserted in
    test_plans.py).  The fit-time checkpoint is released once written."""
    idx = _ivf_fitted(spark, sf_dir)
    path = _ivf_scratch_dir()
    idx.write(path)
    idx.release()
    return sim.IVFIndex.read(spark, path).search(query_id=0)


def q_sim_ann_ivf_batch(spark, sf_dir):
    """Batch ANN join (IVFIndex.search_batch): top-5 neighbors for a
    TABLE of query vectors in one distributed plan — per-query probe
    cells computed by codegen over the fitted centroid literals,
    exploded and equi-joined against the cell table, rank-limit top-k.
    No per-query driver round-trips.  Served from the RELOADED
    ``__list``-partitioned index layout (`_ivf_reloaded`, VERDICT r8
    #3) so the cell join partition-prunes instead of scanning the
    fit-path checkpoint."""
    emb = _t(spark, sf_dir, "embeddings")
    idx = _ivf_reloaded(spark, sf_dir)
    queries = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("qid"), "embedding"))
    return idx.search_batch(queries, q_id_col="qid",
                            exclude_self=True)


def _sql_sim_ann_ivf_batch(sf_dir: str = "/root/testdata/sf0.01",
                           ranked: bool = False, qid_lo: int = 0,
                           qid_hi: int = 5) -> str | None:
    """Generated like ``_sql_sim_ann_ivf``: replay the deterministic
    trainer, then compute each query's probe cells in Python
    (``probe_cells``) and embed them as a (qid, lst) VALUES table the
    oracle joins through.

    ``ranked=True`` is the AnnAnnotator flavor (r10): keep self-hits
    (the annotator does not exclude them) and emit an explicit
    ``rank`` ordered by the RAW cosine — the posexploded array
    position the Spark side produces — so the oracle checks the
    array ORDER the annotator guarantees, not just the member set."""
    import os

    path = f"{sf_dir}/embeddings.parquet"
    if not os.path.exists(path):
        return None
    import duckdb

    con = duckdb.connect()
    rows = con.sql(
        f"SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v "
        f"FROM '{path}' ORDER BY vec_id").fetchall()
    # replicate IVFIndex.fit's bounded sample (same rule as
    # _sql_sim_ann_ivf): footer-count modulus + md5-mod of the id
    import hashlib

    n_total = con.sql(f"SELECT count(*) FROM '{path}'").fetchone()[0]
    if n_total > 65536:
        mod = -(-n_total // 65536)
        rows = [r for r in rows if int(hashlib.md5(
            str(int(r[0])).encode()).hexdigest()[:8], 16) % mod == 0]
    vecs = [r[1] for r in rows]
    cents = sim.train_centroids(vecs, n_lists=8)
    qrows = con.sql(
        f"SELECT vec_id, list_transform(embedding, x -> "
        f"CAST(round(x::DOUBLE * 1000) AS BIGINT)) FROM '{path}' "
        f"WHERE vec_id >= {qid_lo} AND vec_id < {qid_hi} "
        f"ORDER BY vec_id").fetchall()
    con.close()
    pairs = []
    for qid, q_int in qrows:
        for lst in sim.probe_cells([int(x) for x in q_int], cents,
                                   n_probe=2):
            pairs.append((int(qid), lst))
    cent_lits = ", ".join(
        "[" + ", ".join(str(c) for c in cj) + "]" for cj in cents)
    probe_vals = ", ".join(f"({q}, {l})" for q, l in pairs)
    if ranked:
        return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS q
  FROM embeddings),
n AS (
  SELECT vec_id, q,
         sqrt(CAST(list_sum(list_transform(q, x -> x*x)) AS DOUBLE)) AS nrm,
         list_transform([{cent_lits}], c ->
             list_sum(list_transform(generate_series(1, 64),
                 i -> (q[i]-c[i])*(q[i]-c[i])))) AS d
  FROM q),
a AS (SELECT vec_id, q, nrm, list_position(d, list_min(d)) - 1 AS lst FROM n),
p AS (SELECT * FROM (VALUES {probe_vals}) AS t(qid, lst)),
b AS (SELECT vec_id AS qid, q, nrm FROM a
      WHERE vec_id >= {qid_lo} AND vec_id < {qid_hi}),
h AS (
  SELECT b.qid, a.vec_id,
         CAST(list_sum(list_transform(generate_series(1, 64),
              i -> b.q[i] * a.q[i])) AS DOUBLE) / (b.nrm * a.nrm) AS rawc
  FROM p JOIN b ON b.qid = p.qid JOIN a ON a.lst = p.lst)
SELECT qid, CAST(row_number() OVER w - 1 AS BIGINT) AS rank,
       vec_id AS nn_id, ROUND(rawc, 6) AS cosine
FROM h
-- order by the 6-dp ROUNDED cosine (ADVICE r10): the Spark annotator
-- ranks search_batch's rounded values, so two hits that round equal
-- must tie-break on vec_id here too or rank rows diverge spuriously
WINDOW w AS (PARTITION BY qid ORDER BY ROUND(rawc, 6) DESC, vec_id ASC)
QUALIFY row_number() OVER w <= 5
"""
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS q
  FROM embeddings),
n AS (
  SELECT vec_id, q,
         sqrt(CAST(list_sum(list_transform(q, x -> x*x)) AS DOUBLE)) AS nrm,
         list_transform([{cent_lits}], c ->
             list_sum(list_transform(generate_series(1, 64),
                 i -> (q[i]-c[i])*(q[i]-c[i])))) AS d
  FROM q),
a AS (SELECT vec_id, q, nrm, list_position(d, list_min(d)) - 1 AS lst FROM n),
p AS (SELECT * FROM (VALUES {probe_vals}) AS t(qid, lst)),
b AS (SELECT vec_id AS qid, q, nrm FROM a
      WHERE vec_id >= {qid_lo} AND vec_id < {qid_hi})
SELECT b.qid, a.vec_id,
       ROUND(CAST(list_sum(list_transform(generate_series(1, 64),
                i -> b.q[i] * a.q[i])) AS DOUBLE) / (b.nrm * a.nrm), 6) AS cosine
FROM p JOIN b ON b.qid = p.qid JOIN a ON a.lst = p.lst
WHERE a.vec_id <> b.qid
QUALIFY row_number() OVER (PARTITION BY b.qid
                           ORDER BY cosine DESC, a.vec_id ASC) <= 5
"""


def q_sim_ann_annotate(spark, sf_dir):
    """AnnAnnotator as a registry query (r10, VERDICT r9 #7): the
    pipeline-embeddable ANN stage (`similarity.AnnAnnotator`) fitted
    on the corpus attaches ORDERED ``nn_ids``/``nn_cosines`` arrays to
    each query row via one search_batch cell join + one sort_array
    fold + one keyed join back.  Serves from the reloaded
    ``__list``-partitioned index (`_ivf_reloaded`) so the cell join
    partition-prunes.  Output posexplodes the arrays to
    (qid, rank, nn_id, cosine) rows so the driver hash verifies the
    array ORDER the annotator guarantees, not just the member set
    (array cells don't survive the order-insensitive value compare)."""
    emb = _t(spark, sf_dir, "embeddings")
    ann = sim.AnnAnnotator(k=5, n_lists=8, n_probe=2, id_col="qid")
    ann.index = _ivf_reloaded(spark, sf_dir)
    queries = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("qid"), "embedding"))
    out = ann.transform(queries)
    z = F.arrays_zip("nn_ids", "nn_cosines")
    return (out.select("qid", F.posexplode(z).alias("pos", "h"))
            .select("qid",
                    F.col("pos").cast("long").alias("rank"),
                    F.col("h.nn_ids").alias("nn_id"),
                    F.round("h.nn_cosines", 6).alias("cosine")))


def _sql_sim_ann_annotate(sf_dir: str = "/root/testdata/sf0.01") -> str | None:
    return _sql_sim_ann_ivf_batch(sf_dir, ranked=True)


def q_events_ann_annotate(spark, sf_dir):
    """Batch twin of ``streaming.annotate_stream``'s foreachBatch body
    (r11, VERDICT r10 #6): annotate an ARRIVING micro-batch — a fresh
    qid slice (vec_id 5..9) disjoint from sim_ann_annotate's — against
    the static reloaded ``__list``-partitioned index, exactly the plan
    every micro-batch of the stream runs (the foreachBatch body IS
    ``AnnAnnotator.transform``; stream==batch parity is bit-exact in
    test_streaming.py::test_annotate_stream_matches_batch).  This gives
    the streaming-ANN path a driver-checked ranked oracle like the
    other five streaming twins."""
    emb = _t(spark, sf_dir, "embeddings")
    ann = sim.AnnAnnotator(k=5, n_lists=8, n_probe=2, id_col="qid")
    ann.index = _ivf_reloaded(spark, sf_dir)
    batch = (emb.filter((F.col("vec_id") >= 5) & (F.col("vec_id") < 10))
             .select(F.col("vec_id").alias("qid"), "embedding"))
    out = ann.transform(batch)
    z = F.arrays_zip("nn_ids", "nn_cosines")
    return (out.select("qid", F.posexplode(z).alias("pos", "h"))
            .select("qid",
                    F.col("pos").cast("long").alias("rank"),
                    F.col("h.nn_ids").alias("nn_id"),
                    F.round("h.nn_cosines", 6).alias("cosine")))


def _sql_events_ann_annotate(sf_dir: str = "/root/testdata/sf0.01") -> str | None:
    return _sql_sim_ann_ivf_batch(sf_dir, ranked=True, qid_lo=5, qid_hi=10)


def _pq_fitted(spark, sf_dir) -> "sim.PQIndex":
    """A freshly fitted PQIndex — the parameters the three PQ-family
    queries share.  Fit is deterministic (id-ordered bounded sample),
    so every call yields bit-identical codebooks.  The index keeps its
    fit-time checkpointed codes table, as any ``PQIndex.fit`` caller's
    does."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.PQIndex(k=5, m=8, k_sub=16).fit(emb)


def q_sim_ann_pq(spark, sf_dir):
    """Product-quantization ANN (r6): vectors compressed to m=8 codes,
    query scored by asymmetric-distance lookup tables — the whole
    distributed plan is a projection over the codes table plus a top-k
    heap (no join, no shuffle).  Exact-integer distances end-to-end,
    so the generated oracle replays codes + ADC sums hash-equal."""
    return _pq_fitted(spark, sf_dir).search(query_id=0)


def q_sim_ann_pq_rerank(spark, sf_dir):
    """Two-stage PQ retrieval (r6): ADC over the compressed codes
    selects a k*4 candidate pool, then ONLY those rows' original
    vectors are re-scored with exact cosine (candidate side broadcast).
    The deployment shape that recovers near-brute-force recall while
    the full-corpus pass stays on 8-byte codes."""
    return _pq_fitted(spark, sf_dir).search(query_id=0, rerank=4)


def q_sim_ann_pq_persisted(spark, sf_dir):
    """fit → write (codebooks + codes table as parquet — the ~3 TB
    artifact standing in for 100 TB of raw vectors) → read →
    search_vec: search-WITHOUT-refit as the measured deployment shape.
    The reloaded index holds only the compressed codes (write drops the
    raw-vector handle), so retrieval cost is a scan of 8 ints/vector
    plus a top-k heap; results must be bit-identical to the in-session
    index (shares sim_ann_pq's generated oracle)."""
    import os

    idx = _pq_fitted(spark, sf_dir)
    path = os.path.join(_ivf_scratch_dir(), "pq_idx")
    idx.write(path)                    # overwrite: correct across sf_dirs
    idx.release()
    reloaded = sim.PQIndex.read(spark, path)
    emb = _t(spark, sf_dir, "embeddings")
    qvec = list(emb.filter(F.col("vec_id") == 0).head()["embedding"])
    return reloaded.search_vec(qvec, id_col="vec_id", exclude_id=0)


def _pq_replay(sf_dir: str):
    """Replay PQIndex.fit's deterministic trainer for the oracle
    generators: same content-addressed md5-mod sample rule, same
    id-ordered float64 sample, same per-subspace numpy Lloyd's.
    Returns (codebooks, q_int of vec_id=0) or None if the table is
    absent."""
    import hashlib
    import os

    path = f"{sf_dir}/embeddings.parquet"
    if not os.path.exists(path):
        return None
    import duckdb

    con = duckdb.connect()
    rows = con.sql(
        f"SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) "
        f"FROM '{path}' ORDER BY vec_id").fetchall()
    q_int = con.sql(
        f"SELECT list_transform(embedding, x -> "
        f"CAST(round(x::DOUBLE * 1000) AS BIGINT)) FROM '{path}' "
        f"WHERE vec_id = 0").fetchone()[0]
    con.close()
    max_train = 65536
    if len(rows) > max_train:
        mod = -(-len(rows) // max_train)
        rows = [r for r in rows if int(hashlib.md5(
            str(int(r[0])).encode()).hexdigest()[:8], 16) % mod == 0]
    cbs = sim.train_pq_codebooks([list(r[1]) for r in rows],
                                 m=8, k_sub=16)
    return cbs, [int(x) for x in q_int]


def _pq_sql_parts(cbs, q_int):
    """Shared SQL fragments: per-subspace distance columns d{s} and the
    ADC sum over Python-computed lookup-table literals."""
    sd = len(cbs[0][0])
    d_cols = []
    for s, cb in enumerate(cbs):
        lits = ", ".join(
            "[" + ", ".join(str(c) for c in cw) + "]" for cw in cb)
        d_cols.append(
            f"list_transform([{lits}], c -> "
            f"list_sum(list_transform(generate_series(1, {sd}), "
            f"i -> (q[{s * sd}+i]-c[i])*(q[{s * sd}+i]-c[i])))) AS d{s}")
    tables = sim.pq_adc_tables(q_int, cbs)
    adc_terms = []
    for s, tbl in enumerate(tables):
        tlits = ", ".join(str(t) for t in tbl)
        adc_terms.append(f"([{tlits}])[list_position(d{s}, list_min(d{s}))]")
    return ",\n         ".join(d_cols), " + ".join(adc_terms)


def _sql_sim_ann_pq(sf_dir: str = "/root/testdata/sf0.01") -> str | None:
    """Generated like ``_sql_sim_ann_ivf``: the fitted codebooks and the
    query's ADC tables become SQL literals; code assignment (argmin,
    first-occurrence ties) and the ADC integer sum replay exactly."""
    rep = _pq_replay(sf_dir)
    if rep is None:
        return None
    cbs, q_int = rep
    d_cols, adc = _pq_sql_parts(cbs, q_int)
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS q
  FROM embeddings),
d AS (
  SELECT vec_id,
         {d_cols}
  FROM q)
SELECT vec_id, CAST({adc} AS BIGINT) AS adc_dist
FROM d
WHERE vec_id <> 0
ORDER BY adc_dist ASC, vec_id ASC
LIMIT 5
"""


def _sql_sim_ann_pq_rerank(sf_dir: str = "/root/testdata/sf0.01") -> str | None:
    """Two-stage oracle: the ADC candidate pool (k*4 by exact integer
    distance, ties to the lower id) feeds an exact-cosine re-score
    against the Python-quantized query literal — the identical double
    arithmetic (dot / (nrm * qnrm_literal)) the Spark plan runs."""
    rep = _pq_replay(sf_dir)
    if rep is None:
        return None
    cbs, q_int = rep
    d_cols, adc = _pq_sql_parts(cbs, q_int)
    qlits = ", ".join(str(x) for x in q_int)
    qnrm = float(sum(x * x for x in q_int)) ** 0.5
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS q
  FROM embeddings),
d AS (
  SELECT vec_id, q,
         {d_cols}
  FROM q),
cand AS (
  SELECT vec_id, q, CAST({adc} AS BIGINT) AS adc_dist
  FROM d
  WHERE vec_id <> 0
  ORDER BY adc_dist ASC, vec_id ASC
  LIMIT 20)
SELECT vec_id,
       ROUND(CAST(list_sum(list_transform(generate_series(1, 64),
                i -> q[i] * ([{qlits}])[i])) AS DOUBLE)
             / (sqrt(CAST(list_sum(list_transform(q, x -> x*x)) AS DOUBLE))
                * {qnrm!r}), 6) AS cosine
FROM cand
ORDER BY cosine DESC, vec_id ASC
LIMIT 5
"""


def _ivfpq_fitted(spark, sf_dir) -> "sim.IVFPQIndex":
    """The IVFPQIndex in its PARQUET-BACKED form: fit → write
    (``__list``-partitioned codes table) → release the fit-time checkpoint
    → read.  The reloaded index's probe is a partition-pruned scan of
    8-byte codes — the deployment artifact."""
    import hashlib
    import os

    emb = _t(spark, sf_dir, "embeddings")
    fitted = sim.IVFPQIndex(k=5, n_lists=8, n_probe=2,
                            m=8, k_sub=16).fit(emb)
    # sf_dir-specific layout dir: a frame still lazily scanning one
    # corpus's index is never overwritten by another corpus's write.
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(_ivf_scratch_dir(), f"ivfpq_idx_{tag}")
    fitted.write(path)
    fitted.release()
    return sim.IVFPQIndex.read(spark, path)


def q_sim_ann_ivfpq(spark, sf_dir):
    """IVF-PQ composite ANN (r6): coarse cells prune the probe to
    n_probe/n_lists of the corpus AND candidates are scored from
    m-byte residual codes via per-cell ADC tables — the FAISS
    ``IVF8,PQ8`` shape.  Exact-integer end-to-end, so the generated
    oracle replays cells, residual codes and ADC sums hash-equal.
    Served from the written index layout (``_ivfpq_fitted``)."""
    idx = _ivfpq_fitted(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    qvec = list(emb.filter(F.col("vec_id") == 0).head()["embedding"])
    return idx.search_vec(qvec, id_col="vec_id", exclude_id=0)


def q_sim_ann_ivfpq_persisted(spark, sf_dir):
    """fit → write (coarse centroids + residual codebooks + the
    ``__list``-partitioned 8-byte codes table) → read → search_vec:
    the IVF-PQ twin of ``sim_ann_pq_persisted`` (VERDICT r7 #3) —
    search-WITHOUT-refit as the measured deployment shape, and the
    write/read round-trip itself is the timed artifact.  Results must
    be bit-identical to the in-session index, so it shares
    sim_ann_ivfpq's generated oracle."""
    import os

    idx = _ivfpq_fitted(spark, sf_dir)
    path = os.path.join(_ivf_scratch_dir(), "ivfpq_idx_rt")
    idx.write(path)                    # overwrite: correct across sf_dirs
    reloaded = sim.IVFPQIndex.read(spark, path)
    emb = _t(spark, sf_dir, "embeddings")
    qvec = list(emb.filter(F.col("vec_id") == 0).head()["embedding"])
    return reloaded.search_vec(qvec, id_col="vec_id", exclude_id=0)


def _sql_sim_ann_ivfpq(sf_dir: str = "/root/testdata/sf0.01") -> str | None:
    """Generated oracle: replay the deterministic trainer (coarse
    centroids on the sample, residual codebooks on sample residuals),
    then replicate in SQL: coarse assignment (first-occurrence
    argmin), probed-cell restriction, residual computation against the
    centroid literal, per-subspace code argmin, and a per-cell CASE
    over the query's residual ADC table literals."""
    import hashlib
    import os

    path = f"{sf_dir}/embeddings.parquet"
    if not os.path.exists(path):
        return None
    import duckdb

    con = duckdb.connect()
    rows = con.sql(
        f"SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) "
        f"FROM '{path}' ORDER BY vec_id").fetchall()
    q_int = [int(x) for x in con.sql(
        f"SELECT list_transform(embedding, x -> "
        f"CAST(round(x::DOUBLE * 1000) AS BIGINT)) FROM '{path}' "
        f"WHERE vec_id = 0").fetchone()[0]]
    con.close()
    max_train = 65536
    if len(rows) > max_train:
        mod = -(-len(rows) // max_train)
        rows = [r for r in rows if int(hashlib.md5(
            str(int(r[0])).encode()).hexdigest()[:8], 16) % mod == 0]
    vecs = [list(r[1]) for r in rows]
    coarse = sim.train_centroids(vecs, 8)
    residuals = []
    for v in vecs:
        qv = sim.quantize_centroid(v)
        cell = sim.probe_cells(qv, coarse, 1)[0]
        residuals.append([float(x - c) for x, c in zip(qv, coarse[cell])])
    cbs = sim.train_pq_codebooks(residuals, m=8, k_sub=16, scale=1)
    sd = len(cbs[0][0])
    cells = sim.probe_cells(q_int, coarse, 2)
    coarse_lits = ", ".join(
        "[" + ", ".join(str(c) for c in cj) + "]" for cj in coarse)
    d_cols = []
    for s, cb in enumerate(cbs):
        lits = ", ".join(
            "[" + ", ".join(str(c) for c in cw) + "]" for cw in cb)
        d_cols.append(
            f"list_transform([{lits}], c -> "
            f"list_sum(list_transform(generate_series(1, {sd}), "
            f"i -> (res[{s * sd}+i]-c[i])*(res[{s * sd}+i]-c[i])))) AS d{s}")
    branches = []
    for cell in cells:
        res_q = [x - c for x, c in zip(q_int, coarse[cell])]
        tables = sim.pq_adc_tables(res_q, cbs)
        terms = " + ".join(
            f"([{', '.join(str(t) for t in tbl)}])"
            f"[list_position(d{s}, list_min(d{s}))]"
            for s, tbl in enumerate(tables))
        branches.append(f"WHEN cl = {cell} THEN {terms}")
    in_list = ", ".join(str(c) for c in cells)
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS q
  FROM embeddings),
n AS (
  SELECT vec_id, q,
         list_transform([{coarse_lits}], c ->
             list_sum(list_transform(generate_series(1, 64),
                 i -> (q[i]-c[i])*(q[i]-c[i])))) AS d
  FROM q),
asg AS (
  SELECT vec_id, q,
         CAST(list_position(d, list_min(d)) - 1 AS INTEGER) AS cl
  FROM n
  WHERE vec_id <> 0),
r AS (
  SELECT vec_id, cl,
         list_transform(generate_series(1, 64),
             i -> q[i] - cent[i]) AS res
  FROM (SELECT *, ([{coarse_lits}])[cl+1] AS cent FROM asg)
  WHERE cl IN ({in_list})),
d2 AS (
  SELECT vec_id, cl,
         {(',' + chr(10) + '         ').join(d_cols)}
  FROM r)
SELECT vec_id,
       CAST(CASE {' '.join(branches)} END AS BIGINT) AS adc_dist
FROM d2
ORDER BY adc_dist ASC, vec_id ASC
LIMIT 5
"""


def q_sim_ann_lsh(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return sim.HyperplaneLSHIndex(k=5, n_planes=4).search(emb, query_id=0)


def _sql_sim_ann() -> str:
    d = dd.QuantizedCosineDeduplicator(n_planes=4)
    terms = []
    for j in range(d.n_planes):
        w = d.hyperplane(j)
        dot = " + ".join(f"{'' if c > 0 else '-'}q[{i + 1}]"
                         for i, c in enumerate(w))
        terms.append(f"(CASE WHEN ({dot}) >= 0 THEN {1 << j} ELSE 0 END)")
    bucket = " + ".join(terms)
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS q
  FROM embeddings),
n AS (
  SELECT vec_id, q,
         sqrt(CAST(list_sum(list_transform(q, x -> x*x)) AS DOUBLE)) AS nrm,
         ({bucket}) AS bucket
  FROM q)
SELECT a.vec_id,
       ROUND(CAST(list_sum(list_transform(generate_series(1, 64),
                i -> a.q[i] * b.q[i])) AS DOUBLE) / (a.nrm * b.nrm), 6) AS cosine
FROM n a, (SELECT * FROM n WHERE vec_id = 0) b
WHERE a.vec_id <> 0 AND a.bucket = b.bucket
ORDER BY cosine DESC, a.vec_id ASC
LIMIT 5
"""


def q_embed_normalize(spark, sf_dir):
    """Unit-normalize embeddings; posexplode to scalar rows so the
    oracle compare is array-free."""
    emb = _t(spark, sf_dir, "embeddings")
    out = sim.VectorNormalizer().transform(emb)
    return out.select(
        "vec_id", F.posexplode("vec_norm").alias("dim", "val"))


SQL_EMBED_NORMALIZE = """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS q
  FROM embeddings),
n AS (
  SELECT vec_id, q,
         sqrt(CAST(list_sum(list_transform(q, x -> x*x)) AS DOUBLE)) AS nrm
  FROM q)
SELECT vec_id, i - 1 AS dim, ROUND(q[i] / nrm, 6) AS val
FROM n, generate_series(1, 64) t(i)
"""


def q_embed_project(spark, sf_dir):
    """JL random projection 64 -> 8 dims, exact integer dot products
    against a seed-derived quantized Gaussian matrix."""
    emb = _t(spark, sf_dir, "embeddings")
    return (sim.RandomProjector(in_dim=64, out_dim=8, seed=42)
            .transform(emb)
            .select("vec_id", *[f"proj_{j}" for j in range(8)]))


def _sql_embed_project() -> str:
    rp = sim.RandomProjector(in_dim=64, out_dim=8, seed=42)
    cols = ",\n       ".join(
        f"CAST(list_sum(list_transform(generate_series(1, 64), "
        f"i -> q[i] * ([{', '.join(str(c) for c in w)}])[i])) AS BIGINT) "
        f"AS proj_{j}"
        for j, w in enumerate(rp.planes))
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS q
  FROM embeddings)
SELECT vec_id,
       {cols}
FROM q
"""


# ==========================================================================
# Text analysis
# ==========================================================================

def q_text_token_count(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (tx.TokenCounter().transform(docs)
            .select("doc_id", "ws_tokens", "re_tokens", "subword_est"))


SQL_TEXT_TOKEN_COUNT = f"""
SELECT doc_id,
       len(string_split(text, ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '{tx.TOKEN_REGEX}')) AS re_tokens,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS subword_est
FROM documents
"""


def q_text_quality(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (tx.QualityScorer().transform(docs)
            .select("doc_id", "n_chars_m", "n_tokens", "mean_tok_len",
                    "stopword_ratio", "alpha_ratio", "quality_score"))


def _sql_text_quality() -> str:
    stop = ", ".join(f"'{s}'" for s in tx.STOPWORDS)
    toks = "string_split(text, ' ')"
    return f"""
WITH b AS (
  SELECT doc_id,
         length(text) AS nc,
         len({toks}) AS nt,
         len(list_filter({toks}, x -> x IN ({stop}))) AS ns,
         length(regexp_replace(text, '[^a-z]', '', 'g')) AS na
  FROM documents)
SELECT doc_id,
       nc AS n_chars_m, nt AS n_tokens,
       ROUND((nc - nt + 1) / nt, 6) AS mean_tok_len,
       ROUND(ns / nt, 6) AS stopword_ratio,
       ROUND(na / nc, 6) AS alpha_ratio,
       floor((least(nt / 64.0, 1.0) * 0.25
              + ROUND(na / nc, 6) * 0.5
              + least(ROUND(ns / nt, 6) * 4.0, 1.0) * 0.25)
             * 1000000 + 0.5) / 1000000.0 AS quality_score
FROM b
"""


def q_text_langid(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    cols = ["doc_id"] + [f"score_{lg}" for lg in sorted(tx.LANG_MARKERS)] + ["pred_lang"]
    return tx.LanguageIdentifier().transform(docs).select(*cols)


def _sql_text_langid() -> str:
    toks = "string_split(text, ' ')"
    langs = sorted(tx.LANG_MARKERS)
    score_cols = []
    for lg in langs:
        lst = ", ".join(f"'{w}'" for w in tx.LANG_MARKERS[lg])
        score_cols.append(
            f"len(list_filter({toks}, x -> x IN ({lst}))) AS score_{lg}")
    # same fold as LanguageIdentifier: strictly-greater replaces, so the
    # alphabetically-first language wins ties.
    pred, best = f"'{langs[0]}'", f"score_{langs[0]}"
    for lg in langs[1:]:
        pred = f"CASE WHEN score_{lg} > {best} THEN '{lg}' ELSE {pred} END"
        best = f"greatest(score_{lg}, {best})"
    return f"""
WITH s AS (SELECT doc_id, {', '.join(score_cols)} FROM documents)
SELECT doc_id, {', '.join('score_' + lg for lg in langs)},
       {pred} AS pred_lang
FROM s
"""


def q_text_redact(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return tx.Redactor().transform(docs).select("doc_id", "redacted")


def _sql_text_redact() -> str:
    e = "text"
    for name, pat in tx.PII_PATTERNS.items():
        p = pat.replace("'", "''")
        e = f"regexp_replace({e}, '{p}', '<{name.upper()}>', 'g')"
    return f"SELECT doc_id, {e} AS redacted FROM documents"


def q_text_term_freq(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return tx.TermFrequency(min_count=5).transform(docs)


SQL_TEXT_TERM_FREQ = """
SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
GROUP BY term HAVING count(*) >= 5
"""


def q_text_repetition(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (tx.RepetitionScorer().transform(docs)
            .select("doc_id", "n_bigrams", "distinct_bigrams",
                    "dup_bigram_ratio", "top_bigram_frac"))


SQL_TEXT_REPETITION = """
WITH g AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(string_split(text, ' ')) - 1),
             i -> string_split(text, ' ')[i] || ' ' ||
                  string_split(text, ' ')[i+1]) AS bg
  FROM documents)
SELECT doc_id,
       len(bg) AS n_bigrams,
       len(list_distinct(bg)) AS distinct_bigrams,
       CASE WHEN len(bg) = 0 THEN 0.0
            ELSE ROUND((len(bg) - len(list_distinct(bg))) / len(bg), 6)
       END AS dup_bigram_ratio,
       CASE WHEN len(bg) = 0 THEN 0.0
            ELSE ROUND(list_max(list_transform(list_distinct(bg),
                     d -> len(list_filter(bg, x -> x = d)))) / len(bg), 6)
       END AS top_bigram_frac
FROM g
"""


def q_text_chunk(spark, sf_dir):
    """Overlapping token-bounded chunking (LLM context-window prep):
    48-token chunks with 8-token overlap over every document."""
    docs = _t(spark, sf_dir, "documents")
    return tx.DocumentChunker(max_tokens=48, overlap=8).transform(docs)


# Same chunk geometry replayed in DuckDB list algebra: stride = 40,
# nchunks = 1 if n<=48 else ceil((n-48)/40)+1, chunk i = tokens
# [i*40+1, i*40+48] (1-based inclusive list_slice).
SQL_TEXT_CHUNK = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents),
c AS (
  SELECT doc_id, toks,
         unnest(generate_series(0,
             CASE WHEN n <= 48 THEN 0
                  ELSE CAST(ceil((n - 48) / 40.0) AS INT) END)) AS chunk_id
  FROM t)
SELECT doc_id, chunk_id,
       array_to_string(list_slice(toks, chunk_id * 40 + 1,
                                  chunk_id * 40 + 48), ' ') AS chunk_text,
       len(list_slice(toks, chunk_id * 40 + 1,
                      chunk_id * 40 + 48)) AS chunk_tokens
FROM c
"""


def q_text_pack(spark, sf_dir):
    """Chunk → pack: 48/8 chunks packed into 256-token context windows
    over 8 hash shards (training-batch prep)."""
    docs = _t(spark, sf_dir, "documents")
    chunks = tx.DocumentChunker(max_tokens=48, overlap=8).transform(docs)
    return tx.SequencePacker(budget=256, n_shards=8).transform(chunks)


SQL_TEXT_PACK = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents),
c AS (
  SELECT doc_id, toks,
         unnest(generate_series(0,
             CASE WHEN n <= 48 THEN 0
                  ELSE CAST(ceil((n - 48) / 40.0) AS INT) END)) AS chunk_id
  FROM t),
ch AS (
  SELECT doc_id, chunk_id,
         len(list_slice(toks, chunk_id * 40 + 1,
                        chunk_id * 40 + 48)) AS chunk_tokens,
         CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 8
              AS INT) AS shard
  FROM c),
w AS (
  SELECT doc_id, chunk_id, chunk_tokens, shard,
         CAST(SUM(chunk_tokens) OVER (
              PARTITION BY shard ORDER BY doc_id, chunk_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM ch)
SELECT doc_id, chunk_id, chunk_tokens, shard, cum_tokens,
       CAST(floor((cum_tokens - 1) / 256.0) AS BIGINT) AS pack_id
FROM w
"""


def q_text_contamination(spark, sf_dir):
    """Decontamination shape: every 50th doc plays the benchmark/eval
    set; corpus docs sharing any word 3-gram with it are flagged with
    their shared-shingle count."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return tx.ContaminationChecker(n=3).flag(corpus, bench)


SQL_TEXT_CONTAMINATION = f"""
WITH bs AS (
  SELECT DISTINCT unnest({_shingles_duck(n=3)}) AS s
  FROM documents WHERE doc_id % 50 = 0),
cs AS (
  SELECT doc_id, unnest({_shingles_duck(n=3)}) AS s
  FROM documents WHERE doc_id % 50 <> 0)
SELECT doc_id, count(DISTINCT s) AS n_shared
FROM cs WHERE s IN (SELECT s FROM bs)
GROUP BY doc_id
"""


def q_sample_weighted(spark, sf_dir):
    """Domain-mixing sampler: per-priority keep rates over orders,
    content-addressed (md5 of the order key) so the kept set is
    engine- and partitioning-independent."""
    from .sources import weighted_sample

    od = _t(spark, sf_dir, "orders")
    out = weighted_sample(
        od, "o_orderpriority",
        {"1-URGENT": 0.5, "2-HIGH": 0.1}, key="o_orderkey",
        default_rate=0.02)
    return out.select("o_orderkey", "o_orderpriority")


SQL_SAMPLE_WEIGHTED = """
SELECT o_orderkey, o_orderpriority
FROM orders
WHERE (('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))::BIGINT)
      / 4294967296.0
    < CASE WHEN o_orderpriority = '1-URGENT' THEN 0.5::DOUBLE
           WHEN o_orderpriority = '2-HIGH' THEN 0.1::DOUBLE
           ELSE 0.02::DOUBLE END
"""


def q_sample_fixed_k(spark, sf_dir):
    """EXACTLY-k deterministic uniform sample (r7, sources.fixed_sample):
    the 200 documents whose md5(doc_id) ranks lowest — a reservoir-
    sampling replacement whose kept set is a pure function of the data
    (rerun/partitioning/cluster-size independent) and nested for
    growing k.  Compiles to TakeOrderedAndProject: per-partition
    k-heaps + a k-row driver merge, never a global sort."""
    from .sources import fixed_sample

    docs = _t(spark, sf_dir, "documents")
    return fixed_sample(docs, key="doc_id", k=200).select("doc_id", "source")


SQL_SAMPLE_FIXED_K = """
SELECT doc_id, source
FROM documents
ORDER BY md5(doc_id::VARCHAR), doc_id
LIMIT 200
"""


def q_text_fingerprint(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (tx.Fingerprinter().transform(docs)
            .select("doc_id", "fp_md5", "fp_roll"))


SQL_TEXT_FINGERPRINT = f"""
WITH n AS (
  SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t
  FROM documents)
SELECT doc_id, md5(t) AS fp_md5,
       CAST(list_sum(list_transform(string_split(t, ' '),
              (x, i) -> {_h32_duck('x')} * (2*(i-1) + 1))) % 2147483647
            AS BIGINT) AS fp_roll
FROM n
"""


# ==========================================================================
# Multimodal plumbing
# ==========================================================================

def q_multimodal_meta(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return mm.with_payload_metadata(docs).select("doc_id", "n_bytes", "digest")


SQL_MULTIMODAL_META = """
SELECT doc_id,
       CAST(octet_length(text::BLOB) AS BIGINT) AS n_bytes,
       substr(sha256(text), 1, 16) AS digest
FROM documents
"""


def q_multimodal_decode(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = mm.FakeImageDecoder().transform(docs)
    return _r6(out.select("doc_id", "n_bytes", "width", "height", "mean_pixel"),
               "mean_pixel")


# text is ASCII, so bytes == characters: the oracle recomputes the fake
# decode (leading/trailing byte, byte-mean) with ascii() arithmetic.
SQL_MULTIMODAL_DECODE = """
SELECT doc_id,
       CAST(octet_length(text::BLOB) AS BIGINT) AS n_bytes,
       CAST(1 + ascii(text[1]) % 64 AS INTEGER) AS width,
       CAST(1 + ascii(text[-1]) % 64 AS INTEGER) AS height,
       ROUND(list_sum(list_transform(string_split(text, ''), c -> ascii(c)))
             / length(text), 6) AS mean_pixel
FROM documents
"""


def q_multimodal_gif_roundtrip(spark, sf_dir):
    """REAL-codec multimodal pipeline (gif.py, new r5): synthesize a
    4x4 gray image from each document's md5 digest bytes, encode it to
    an actual GIF89a (Arrow-batched mapInPandas), then decode through
    the production ``ImageDecoder`` (full LZW) and extract features.
    Because the GIF round-trip is lossless, the decoded mean is exactly
    the md5-byte mean — which DuckDB replays with hex arithmetic, so
    the ENTIRE encode->decode->featurize path is value-checked against
    an independent engine.  /16 and /48 are exact binary divisions
    (the true quotient is representable), so no float-order hazard."""
    import pandas as pd

    from pyspark.sql.types import (BinaryType, LongType, StructField,
                                   StructType)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def encode(batches):
        import hashlib

        import numpy as np

        from .gif import encode_gif

        for pdf in batches:
            payloads = []
            for t in pdf["text"]:
                px = np.frombuffer(
                    hashlib.md5(str(t).encode()).digest(),
                    dtype=np.uint8).reshape(4, 4)
                payloads.append(encode_gif(px))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "payload": payloads})

    enc = dd.spread(docs).mapInPandas(encode, schema=StructType([
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType())]))
    enc = (enc.withColumn("n_bytes", F.octet_length("payload").cast("long"))
           .withColumn("digest", F.md5("payload")))
    out = mm.ImageDecoder(on_error="raise").transform(enc)
    return _r6(out.select("doc_id", "width", "height", "mean_pixel"),
               "mean_pixel")


SQL_MULTIMODAL_GIF_ROUNDTRIP = """
SELECT doc_id,
       CAST(4 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
       ROUND(list_sum(list_transform(generate_series(1, 16),
             i -> ('0x' || substr(md5(text), 2*i-1, 2))::BIGINT))
             / 16.0, 6) AS mean_pixel
FROM documents
"""


def q_multimodal_gif_frames(spark, sf_dir):
    """ANIMATED-GIF frame sampling through the real pipeline (new r6):
    synthesize a 3-frame animated GIF per document (frame f = the 4x4
    gray image of md5(text || f)'s digest bytes), run the production
    ``VideoFrameSampler`` (stride=2 → frames 0 and 2; gif.py
    ``iter_gif_frames`` does the LZW + GCE compositing, frames re-emit
    as lossless BMP), then decode each sampled frame with
    ``ImageDecoder``.  Every hop is lossless, so the per-frame mean is
    exactly the per-frame digest-byte mean — DuckDB replays it with
    hex arithmetic, value-checking the whole animate→sample→decode
    path against an independent engine.  /16 is an exact binary
    division (no float-order hazard)."""
    import pandas as pd

    from pyspark.sql.types import (BinaryType, LongType, StructField,
                                   StructType)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def encode(batches):
        import hashlib

        import numpy as np

        from .gif import encode_gif_animated

        for pdf in batches:
            payloads = []
            for t in pdf["text"]:
                frames = [np.frombuffer(
                    hashlib.md5((str(t) + str(f)).encode()).digest(),
                    dtype=np.uint8).reshape(4, 4) for f in range(3)]
                payloads.append(encode_gif_animated(frames))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "payload": payloads})

    enc = dd.spread(docs).mapInPandas(encode, schema=StructType([
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType())]))
    sampled = (mm.VideoFrameSampler(stride=2).transform(enc)
               .withColumnRenamed("frame", "payload")
               .withColumn("n_bytes",
                           F.octet_length("payload").cast("long"))
               .withColumn("digest", F.md5("payload")))
    dec = mm.ImageDecoder(on_error="raise",
                          keep=["frame_no"]).transform(sampled)
    return _r6(dec.select("doc_id", "frame_no", "mean_pixel"),
               "mean_pixel")


SQL_MULTIMODAL_GIF_FRAMES = """
SELECT doc_id, CAST(f AS INTEGER) AS frame_no,
       ROUND(list_sum(list_transform(generate_series(1, 16),
             i -> ('0x' || substr(md5(text || CAST(f AS VARCHAR)),
                                  2*i-1, 2))::BIGINT))
             / 16.0, 6) AS mean_pixel
FROM documents, UNNEST([0, 2]) AS t(f)
"""


def q_resample_user_daily(spark, sf_dir):
    """Gap-filled resampling (timeseries.resample): per-user DAILY
    activity grid across each user's active range — zero-filled days
    where the user was silent.  The dense spine is a bounded sequence
    explode off the per-key aggregate, never a second data pass."""
    from .timeseries import resample

    ev = _events(spark, sf_dir)
    out = resample(ev, key="user_id", ts_col="ts",
                   step_seconds=86400,
                   aggs={"n_events": ("count", "event_id"),
                         "value_total": ("sum", "value")})
    return out.select("user_id", "bucket", "n_events",
                      F.round("value_total", 6).alias("value_total"))


SQL_RESAMPLE_USER_DAILY = """
WITH sparse AS (
  SELECT user_id,
         CAST(to_timestamp(FLOOR(epoch(ts) / 86400) * 86400)
              AS TIMESTAMP) AS bucket,
         COUNT(event_id) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS value_total
  FROM events GROUP BY 1, 2),
rng AS (
  SELECT user_id, MIN(bucket) AS mn, MAX(bucket) AS mx
  FROM sparse GROUP BY 1),
spine AS (
  SELECT user_id,
         unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS bucket
  FROM rng)
SELECT s.user_id, s.bucket,
       COALESCE(sp.n_events, 0) AS n_events,
       ROUND(COALESCE(sp.value_total, 0), 6) AS value_total
FROM spine s LEFT JOIN sparse sp USING (user_id, bucket)
"""


def _fitted_text_clf(spark, sf_dir):
    """Train the distributed hashed-token classifier ONCE per sf_dir.
    Training is partition-invariant by construction (9-dp decimal
    gradient sums), so the cached weights are THE weights for this
    data; the oracle replays them as literals."""
    import os

    from .textclf import HashedTextClassifier

    key = ("textclf", os.path.abspath(sf_dir))
    if key not in _SKETCH_FIT_CACHE:
        docs = _t(spark, sf_dir, "documents").withColumn(
            "__y", F.array_contains(F.split("text", r"\s+"),
                                    "spark").cast("int"))
        clf = HashedTextClassifier(n_features=256, lr=0.05, n_iter=15)
        clf.fit(docs, "text", "__y")
        _SKETCH_FIT_CACHE[key] = clf
    return _SKETCH_FIT_CACHE[key]


def q_text_clf_score(spark, sf_dir):
    """Distributed text-classifier training + scoring (textclf.py):
    a fasttext-style hashed bag-of-words logistic regression is
    trained IN SPARK (full-batch GD, one map-only margin pass + one
    bounded explode->groupBy per step, never a driver-side feature
    matrix) to detect documents containing the token 'spark', then
    scores the corpus with a pure-codegen margin.  Deterministic
    decimal gradient sums make the fit partition-invariant, which is
    what lets DuckDB replay the fitted weights and verify the scoring
    arithmetic value-for-value."""
    clf = _fitted_text_clf(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    out = clf.transform(docs, "text", out="p_spark")
    return out.select("doc_id", F.round("p_spark", 6).alias("p_spark"))


def _sql_text_clf_score(sf_dir: str) -> str:
    from .session import get_spark

    clf = _fitted_text_clf(get_spark(), sf_dir)
    wlist = ", ".join(repr(v) for v in clf.w_)
    d = clf.n_features
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'),
                     t -> t <> '') AS ts
  FROM documents),
w AS (SELECT [{wlist}]::DOUBLE[] AS wv)
SELECT doc_id,
       ROUND(1.0 / (1.0 + EXP(-(
         list_sum(list_prepend(CAST({clf.b_!r} AS DOUBLE),
           list_transform(ts, t ->
             wv[CAST(('0x' || substr(md5(t), 1, 8))::BIGINT % {d}
                 AS INTEGER) + 1])))))), 6) AS p_spark
FROM toks CROSS JOIN w
"""


def q_woe_encode(spark, sf_dir):
    """Weight-of-evidence encoding (operators.WOEEncoder): each order
    priority becomes its smoothed log-odds of the order being FINISHED
    (o_orderstatus = 'F') relative to the global odds — the
    credit-scoring encoder.  Fit is one global aggregate + one grouped
    aggregate; transform is a broadcast left join."""
    from .operators import WOEEncoder

    od = (_t(spark, sf_dir, "orders")
          .withColumn("y", (F.col("o_orderstatus") == "F").cast("int")))
    enc = WOEEncoder(inputs=["o_orderpriority"], outputs=["prio_woe"],
                     target="y", alpha=0.5)
    out = enc.fit_transform(od)
    return out.select("o_orderkey",
                      F.round("prio_woe", 6).alias("prio_woe"))


SQL_WOE_ENCODE = """
WITH t AS (
  SELECT SUM(CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END) AS pos_t,
         COUNT(*) AS n
  FROM orders),
g AS (
  SELECT o_orderpriority AS cat,
         SUM(CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END) AS pos_c,
         COUNT(*) AS n_c
  FROM orders WHERE o_orderpriority IS NOT NULL GROUP BY 1)
SELECT o.o_orderkey,
       ROUND(LN(((g.pos_c + 0.5) / (t.pos_t + 1.0))
                / ((g.n_c - g.pos_c + 0.5) / ((t.n - t.pos_t) + 1.0))), 6)
         AS prio_woe
FROM orders o
JOIN g ON o.o_orderpriority = g.cat
CROSS JOIN t
"""


def q_scd2_user_state(spark, sf_dir):
    """Type-2 SCD history (relational.scd2): each user's event_type
    change log becomes minimal validity intervals [valid_from,
    valid_to) with consecutive no-op changes collapsed.  One shuffle on
    the key; the collapse lag and interval lead share one sort."""
    from .relational import scd2

    ev = _events(spark, sf_dir)
    out = scd2(ev.select("user_id", "ts", "event_type"),
               key="user_id", version_col="ts", attrs=["event_type"])
    return out.select("user_id", "event_type", "valid_from", "valid_to",
                      "is_current")


SQL_SCD2_USER_STATE = """
WITH ordered AS (
  SELECT user_id, ts, event_type,
         ROW_NUMBER() OVER w AS rn,
         LAG(event_type) OVER w AS prev
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type)
),
dedup AS (
  SELECT user_id, ts, event_type FROM ordered
  WHERE rn = 1 OR (prev IS DISTINCT FROM event_type)
)
SELECT user_id, event_type, valid_from, valid_to,
       (valid_to IS NULL) AS is_current
FROM (SELECT user_id, event_type, ts AS valid_from,
             LEAD(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_type) AS valid_to
      FROM dedup) t
"""


def q_rollup_incremental(spark, sf_dir):
    """Incremental rollup maintenance (relational.IncrementalRollup):
    the per-type value rollup is bootstrapped from the first ten days
    of events and then kept fresh by FOLDING two later batches into
    the stored partial-aggregate state — no rescan of history.  The
    oracle recomputes from scratch over all events: exact DECIMAL
    partials make fold-of-batches bit-identical to the full pass."""
    from .relational import IncrementalRollup

    ev = _events(spark, sf_dir)
    d1, d2 = "2024-01-11", "2024-01-21"
    roll = IncrementalRollup("event_type", {"value_total": "value"})
    state = roll.init(ev.filter(F.col("ts") < d1))
    state = roll.merge(state, ev.filter((F.col("ts") >= d1)
                                        & (F.col("ts") < d2)))
    state = roll.merge(state, ev.filter(F.col("ts") >= d2))
    return _r6(roll.read(state), "value_total", "value_total_mean")


SQL_ROLLUP_INCREMENTAL = """
SELECT event_type,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 6)
         AS value_total,
       COUNT(*) AS n_rows,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
             / COUNT(*), 6) AS value_total_mean
FROM events GROUP BY event_type
"""


# ==========================================================================
# Events analytics (batch twins of the streaming module)
# ==========================================================================

def q_events_hourly_agg(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return st.hourly_agg(ev)


SQL_EVENTS_HOURLY = """
SELECT date_trunc('hour', ts) AS hour_ts, event_type,
       count(*) AS n,
       ROUND(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
         AS avg_value,
       ROUND(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
         AS sum_value
FROM events GROUP BY 1, 2
"""


def q_sessionize(spark, sf_dir):
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_sess = F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0)
    return (
        ev.withColumn("__new", new_sess)
        .withColumn("session_id",
                    F.sum("__new").over(
                        w.rowsBetween(Window.unboundedPreceding, 0)))
        .select("event_id", "user_id", "session_id")
    )


SQL_SESSIONIZE = """
WITH g AS (
  SELECT event_id, user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events)
SELECT event_id, user_id,
       CAST(SUM(CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                     THEN 1 ELSE 0 END)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
FROM g
"""


def q_session_stats(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return st.session_stats(ev)


SQL_SESSION_STATS = """
WITH g AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (
  SELECT user_id, ts, value,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM g)
SELECT user_id, min(ts) AS session_start,
       count(*) AS n_events,
       ROUND(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
         AS session_value
FROM s GROUP BY user_id, sid
"""


def q_asof_last_purchase(spark, sf_dir):
    """Each event enriched with the user's most recent purchase value at
    or before the event's timestamp (backward as-of join)."""
    from .joins import asof_join

    ev = _events(spark, sf_dir)
    dim = (ev.filter(F.col("event_type") == "purchase")
           .select("user_id", "ts", F.col("value").alias("purchase_value")))
    out = asof_join(ev, dim, on="user_id", left_ts="ts", right_ts="ts")
    return out.select("event_id", "user_id", "purchase_value")


SQL_ASOF_LAST_PURCHASE = """
SELECT e.event_id, e.user_id, p.value AS purchase_value
FROM events e
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                WHERE event_type = 'purchase') p
  ON e.user_id = p.user_id AND e.ts >= p.ts
"""


def q_asof_next_purchase(spark, sf_dir):
    """Forward as-of join: each event enriched with the user's NEXT
    purchase value at or after the event timestamp (time-to-conversion
    shape).  Same one-shuffle union plan as backward."""
    from .joins import asof_join

    ev = _events(spark, sf_dir)
    dim = (ev.filter(F.col("event_type") == "purchase")
           .select("user_id", "ts", F.col("value").alias("purchase_value")))
    out = asof_join(ev, dim, on="user_id", left_ts="ts", right_ts="ts",
                    direction="forward")
    return out.select("event_id", "user_id", "purchase_value")


SQL_ASOF_NEXT_PURCHASE = """
SELECT e.event_id, e.user_id, p.value AS purchase_value
FROM events e
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                WHERE event_type = 'purchase') p
  ON e.user_id = p.user_id AND e.ts <= p.ts
"""


def q_asof_nearest_purchase(spark, sf_dir):
    """Nearest as-of join: the purchase closest in time, either side;
    ties go backward (pandas ``merge_asof(direction='nearest')``).
    Both window passes share one sorted shuffle."""
    from .joins import asof_join

    ev = _events(spark, sf_dir)
    dim = (ev.filter(F.col("event_type") == "purchase")
           .select("user_id", "ts", F.col("value").alias("purchase_value")))
    out = asof_join(ev, dim, on="user_id", left_ts="ts", right_ts="ts",
                    direction="nearest")
    return out.select("event_id", "user_id", "purchase_value")


SQL_ASOF_NEAREST_PURCHASE = """
WITH c AS (
  SELECT e.event_id, e.user_id, e.ts,
    (SELECT p.ts FROM events p WHERE p.event_type = 'purchase'
       AND p.user_id = e.user_id AND p.ts <= e.ts
     ORDER BY p.ts DESC LIMIT 1) AS bwd_ts,
    (SELECT p.value FROM events p WHERE p.event_type = 'purchase'
       AND p.user_id = e.user_id AND p.ts <= e.ts
     ORDER BY p.ts DESC LIMIT 1) AS bwd_v,
    (SELECT p.ts FROM events p WHERE p.event_type = 'purchase'
       AND p.user_id = e.user_id AND p.ts > e.ts
     ORDER BY p.ts ASC LIMIT 1) AS fwd_ts,
    (SELECT p.value FROM events p WHERE p.event_type = 'purchase'
       AND p.user_id = e.user_id AND p.ts > e.ts
     ORDER BY p.ts ASC LIMIT 1) AS fwd_v
  FROM events e)
SELECT event_id, user_id,
       CASE WHEN fwd_ts IS NULL
              OR (bwd_ts IS NOT NULL
                  AND epoch_us(ts) - epoch_us(bwd_ts)
                      <= epoch_us(fwd_ts) - epoch_us(ts))
            THEN bwd_v ELSE fwd_v END AS purchase_value
FROM c
"""


def q_events_rolling_30m(spark, sf_dir):
    """Per event: count + sum of the same user's events in the preceding
    30 minutes — an event-time RANGE frame, no self-join."""
    ev = _events(spark, sf_dir)
    w = (Window.partitionBy("user_id").orderBy(F.unix_micros(F.col("ts")))
         .rangeBetween(-1_800_000_000, 0))
    # decimal frame sum: accumulation order inside a RANGE frame is
    # engine/sort-stability dependent — lossless DECIMAL makes the sum
    # order-independent (same rationale as streaming.hourly_agg)
    return ev.select(
        "event_id", "user_id",
        F.count(F.lit(1)).over(w).alias("n_30m"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")).over(w)
                .cast("double"), 6).alias("sum_30m"),
    )


SQL_EVENTS_ROLLING_30M = """
SELECT event_id, user_id,
       count(*) OVER w AS n_30m,
       ROUND(CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE), 6)
         AS sum_30m
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW)
"""


def q_events_click_attribution(spark, sf_dir):
    """Batch twin of the stream-stream interval join: purchases joined
    to same-user clicks in the preceding 30 minutes, rolled up to a
    click count per purchase (purchases with zero clicks drop out —
    matching the inner-join semantics the streaming side emits)."""
    ev = _events(spark, sf_dir)
    pairs = st.click_attribution(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "click"))
    return (pairs.groupBy("purchase_id", "user_id")
            .agg(F.count(F.lit(1)).alias("n_clicks_30m")))


SQL_EVENTS_CLICK_ATTRIBUTION = """
SELECT p.event_id AS purchase_id, p.user_id, count(*) AS n_clicks_30m
FROM events p JOIN events c
  ON c.user_id = p.user_id AND c.event_type = 'click'
 AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE
WHERE p.event_type = 'purchase'
GROUP BY 1, 2
"""


def q_events_user_totals(spark, sf_dir):
    """Batch twin of the custom stateful operator (``st.user_totals``,
    applyInPandasWithState in streaming): on a batch frame the same
    state-across-chunks fold runs once per task via mapInPandas over a
    user-hash shuffle — state starts empty and sees every chunk, like
    one micro-batch sequence — so the DuckDB GROUP BY oracle checks the
    fold kernel itself, not a separate reimplementation (stream final
    snapshots == this batch result is asserted in test_streaming.py)."""
    ev = _events(spark, sf_dir)
    return (st.user_totals(ev)
            .withColumn("total_value", F.round("total_value", 6)))


SQL_EVENTS_USER_TOTALS = """
SELECT user_id, count(*) AS n_events,
       round(sum(value), 6) AS total_value
FROM events GROUP BY user_id
"""


def q_events_dedup(spark, sf_dir):
    """Batch twin of the streaming dedup (``st.dedup_stream``,
    dropDuplicatesWithinWatermark in streaming / dropDuplicates in
    batch): multi-key dedup on (user_id, event_type), projected to the
    key columns so the survivor row-set is deterministic regardless of
    which duplicate each engine keeps."""
    ev = _events(spark, sf_dir)
    return (st.dedup_stream(ev, keys=["user_id", "event_type"])
            .select("user_id", "event_type"))


SQL_EVENTS_DEDUP = """
SELECT DISTINCT user_id, event_type FROM events
"""


def q_events_latest(spark, sf_dir):
    """Latest event per (user, type) as an aggregate, not a window
    (VERDICT r11 #3): the winner of ``row_number() OVER (ORDER BY ts
    DESC, event_id DESC) = 1`` is an argmax, so a groupBy aggregate
    computes it partial-aggregated — the exchange carries one row per
    (user, type) instead of every event, which is the shape that holds
    at 100×.

    ``max(struct(ts, event_id, value))`` orders exactly as the window
    does: struct fields compare left to right, and a NULL field sorts
    below any value, as NULL ``ts`` sorts last under ``ts DESC``, so a
    group whose every ``ts`` is NULL still tie-breaks by ``event_id``.
    Struct buffers are not hash-mutable, so the aggregate plans as a
    partial then final SortAggregate (plan-pinned in test_plans.py)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("user_id", "event_type")
        .agg(F.max(F.struct("ts", "event_id", "value")).alias("__m"))
        .select(F.col("__m.event_id").alias("event_id"),
                "user_id", "event_type",
                F.col("__m.value").alias("value"))
    )


SQL_EVENTS_LATEST = """
SELECT event_id, user_id, event_type, value
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                           ORDER BY ts DESC, event_id DESC) = 1
"""


# ==========================================================================
# Native-Spark analytics (joins / top-k / rollup / JSON) — categories the
# reference lacks entirely (SURVEY.md §2 "does not have"); the engine
# exposes the stock Spark primitive, oracle-checked here.  All revenue
# arithmetic runs in DECIMAL so sums are exact and engine-portable (a
# double sum's reduction order would flip the value hash at the rounding
# boundary).
# ==========================================================================

def _dec(c: str):
    return F.col(c).cast("decimal(18,2)")


_REV = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"


def _rev():
    """The Spark twin of :data:`_REV`: exact decimal revenue per row.
    Each revenue query sums it and casts the sum to double once, as the
    oracle's ``CAST(sum(...) AS DOUBLE)`` does."""
    return (_dec("l_extendedprice")
            * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount")))


def q_tpch_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: filtered scan → 4-way aggregate per flag/status.
    Each money or quantity sum is an exact decimal sum, cast to double
    once."""
    li = _t(spark, sf_dir, "lineitem")
    filtered = li.filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    sum_qty = F.col("_sq").cast("double")
    return (
        filtered
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum(_dec("l_quantity")).alias("_sq"),
             F.sum(_dec("l_extendedprice")).alias("_sbp"),
             F.sum(_rev()).alias("_sdp"),
             F.count(F.lit(1)).alias("count_order"))
        .select("l_returnflag", "l_linestatus",
                sum_qty.alias("sum_qty"),
                F.col("_sbp").cast("double").alias("sum_base_price"),
                F.col("_sdp").cast("double").alias("sum_disc_price"),
                F.round(sum_qty / F.col("count_order"), 6).alias("avg_qty"),
                "count_order")
    )


SQL_TPCH_PRICING = f"""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum({_REV}) AS DOUBLE) AS sum_disc_price,
       ROUND(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6)
         AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_revenue_orders(spark, sf_dir):
    """TPC-H Q3 shape: dim-filter semi-join → fact join → group → top-k.

    The customer filter semi-joins orders before the fact join; both
    joins take no hint, so AQE picks each strategy from the runtime
    sizes.  Top-k is TakeOrderedAndProject — per-partition heaps, no
    global sort."""
    cu = (_t(spark, sf_dir, "customer")
          .filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey"))
    od = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    od_b = (od.join(cu, od.o_custkey == cu.c_custkey, "left_semi")
            .select("o_orderkey", "o_orderdate"))
    # Rank on the exact decimal sum and cast only the surviving 10 rows
    # to double: the cast is monotone, so desc order and ties are the
    # oracle's.
    return (
        li.join(od_b, li.l_orderkey == od_b.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(_rev()).alias("_r"))
        .orderBy(F.desc("_r"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_orderdate",
                F.col("_r").cast("double").alias("revenue"))
    )


SQL_TOP_REVENUE_ORDERS = f"""
SELECT o_orderkey, o_orderdate, CAST(sum({_REV}) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def q_revenue_by_nation(spark, sf_dir):
    """TPC-H Q5 shape: snowflake join (two dims) → rollup.

    Shuffle-minimal shape (r9, A/B-measured at sf1 — 2.0s → 0.99s):

    * Partial aggregation pushed BELOW the fact-fact join: sum/count
      are distributive, so lineitem is pre-aggregated to one
      exact-decimal partial per l_orderkey (~4:1; map-side combine is
      near-free because lineitem files are clustered by orderkey)
      before the join — at any scale the join moves ~|orders|
      partial rows instead of |lineitem| raw rows.
    * No join takes a hint: AQE picks each strategy from the runtime
      sizes of the materialized sides.
    * The 25-row nation name rides AFTER the aggregate: the shuffle
      and group keys are the INT c_nationkey, not the name string —
      narrower exchanges, and the n_name join touches 25 rows
      instead of |orders|."""
    na = _t(spark, sf_dir, "nation")
    cu = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    od = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem")
    li_pre = (li.groupBy("l_orderkey")
              .agg(F.sum(_rev()).alias("_r"),
                   F.count(F.lit(1)).alias("_n")))
    dim = (od.join(cu, od.o_custkey == cu.c_custkey)
           .select("o_orderkey", "c_nationkey"))
    return (
        li_pre.join(dim, li_pre.l_orderkey == dim.o_orderkey)
        .groupBy("c_nationkey")
        .agg(F.sum("_r").alias("_r"), F.sum("_n").alias("_n"))
        .join(na, F.col("c_nationkey") == na.n_nationkey)
        .select("n_name", F.col("_r").cast("double").alias("revenue"),
                F.col("_n").alias("n_items"))
    )


SQL_REVENUE_BY_NATION = f"""
SELECT n_name, CAST(sum({_REV}) AS DOUBLE) AS revenue, count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_revenue_rollup(spark, sf_dir):
    """Hierarchical subtotals (ROLLUP) — a grouping-sets capability the
    reference lacks entirely; exposed as the stock Spark primitive."""
    li = _t(spark, sf_dir, "lineitem")
    # Pre-aggregate to the finest grouping (6 rows), then run Spark's
    # native rollup() ON THE PRE-AGGREGATE inside the same plan.  The
    # Expand that rollup inserts (one copy per grouping level) hits 6
    # rows instead of the full scan, sum/count are associative so
    # re-summing partials is exact — one scan, one job, one tiny extra
    # shuffle, no persist (VERDICT r8 #2: the previous persist+3-action
    # shape cost three job launches for a one-scan query).
    base = (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(_rev()).alias("_r"), F.count(F.lit(1)).alias("_n")))
    return (
        base.rollup("l_returnflag", "l_linestatus")
        .agg(F.sum("_r").alias("_r2"), F.sum("_n").alias("n_items"))
        .select("l_returnflag", "l_linestatus",
                F.col("_r2").cast("double").alias("revenue"), "n_items")
    )


SQL_REVENUE_ROLLUP = f"""
SELECT l_returnflag, l_linestatus,
       CAST(sum({_REV}) AS DOUBLE) AS revenue, count(*) AS n_items
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_revenue_cube(spark, sf_dir):
    """Full CUBE over (returnflag, linestatus) via reshape.cube_agg —
    every grouping set re-summed from ONE finest pre-aggregate (one
    fact scan; Spark's native cube() would Expand the scan 4×)."""
    from .reshape import cube_agg

    li = _t(spark, sf_dir, "lineitem")
    out = cube_agg(li.withColumn("__rev", _rev()),
                   dims=["l_returnflag", "l_linestatus"],
                   sums={"revenue": "__rev"}, count_col="n_items")
    # report in millions: a grand-total revenue sum reaches ~5e11 at
    # sf1, where double ulp (~6e-5) exceeds the comparator's 6-dp
    # rounding and Spark's vs DuckDB's decimal→double casts can land on
    # different neighbors.  Dividing AFTER the cast shrinks any 1-ulp
    # cast divergence by 1e6 — far below the 6-dp compare.
    return out.select(
        "l_returnflag", "l_linestatus",
        F.round(F.col("revenue") / 1000000.0, 6).alias("revenue_musd"),
        "n_items")


SQL_REVENUE_CUBE = f"""
SELECT l_returnflag, l_linestatus,
       ROUND(CAST(sum(CAST({_REV} AS DECIMAL(28,6))) AS DOUBLE)
             / 1000000.0, 6) AS revenue_musd,
       count(*) AS n_items
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_revenue_grouping_sets(spark, sf_dir):
    """EXPLICIT grouping sets (VERDICT r11 #8): ``((flag, status),
    (status), ())`` — a set a ROLLUP cannot express (it keeps (status)
    but not (flag)) and a CUBE over-produces, via Spark's native
    ``DataFrame.groupingSets``.  Same one-scan discipline as
    revenue_rollup: the Expand runs on the 6-row finest pre-aggregate,
    not the fact scan.
    ``grouping()`` flags disambiguate a rolled-up NULL from a data
    NULL — same contract as SQL GROUPING()."""
    li = _t(spark, sf_dir, "lineitem")
    base = (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(_rev()).alias("_r"), F.count(F.lit(1)).alias("_n")))
    return (
        base.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_linestatus"], []],
            "l_returnflag", "l_linestatus")
        .agg(F.sum("_r").alias("_r2"), F.sum("_n").alias("n_items"),
             F.grouping("l_returnflag").cast("long").alias("g_flag"),
             F.grouping("l_linestatus").cast("long").alias("g_status"))
        .select("l_returnflag", "l_linestatus", "g_flag", "g_status",
                F.col("_r2").cast("double").alias("revenue"), "n_items")
    )


SQL_REVENUE_GROUPING_SETS = f"""
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag) AS g_flag,
       GROUPING(l_linestatus) AS g_status,
       CAST(sum({_REV}) AS DOUBLE) AS revenue, count(*) AS n_items
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
"""


def q_events_json_props(spark, sf_dir):
    """JSON column surface: extract a typed field from the props blob."""
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
    )


SQL_EVENTS_JSON_PROPS = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
FROM events
"""


def q_docs_dedup_stream(spark, sf_dir):
    """Batch twin of the streaming ingest dedup
    (``st.ingest_dedup_stream``, dropDuplicatesWithinWatermark on the
    256-bit content digest): on a batch frame the same helper runs
    ``dropDuplicates`` on the digest, and projecting to the digest
    makes the survivor set deterministic regardless of which duplicate
    row each engine keeps.  Stream == batch digest-set parity is
    asserted in test_streaming.py."""
    docs = _t(spark, sf_dir, "documents")
    return (st.ingest_dedup_stream(docs)
            .select(F.col("__digest").alias("digest")))


SQL_DOCS_DEDUP_STREAM = """
SELECT DISTINCT sha256(text) AS digest FROM documents
"""


# ==========================================================================
# Sources / data prep
# ==========================================================================

def q_join_left_enrich(spark, sf_dir):
    od = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey")
    # not sources.left_enrich: its unconditional broadcast is for small
    # in-memory dims, and customer grows with the data; AQE picks the join
    out = od.join(cu, on=[od.o_custkey == cu.c_custkey], how="left")
    return out.select("o_orderkey", "o_totalprice", "c_mktsegment", "c_nationkey")


SQL_JOIN_LEFT_ENRICH = """
SELECT o_orderkey, o_totalprice, c_mktsegment, c_nationkey
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
"""


def q_split_train(spark, sf_dir):
    od = _t(spark, sf_dir, "orders")
    train, _test = split_mod(od, key="o_orderkey", modulus=4, test_residue=3)
    return train.select("o_orderkey", "o_custkey")


SQL_SPLIT_TRAIN = """
SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 4 <> 3
"""


def q_split_group(spark, sf_dir):
    """Leakage-safe group split: every customer's orders land on one
    side (md5-fraction on the customer key, not the row key)."""
    from .sources import split_by_group

    od = _t(spark, sf_dir, "orders")
    train, _test = split_by_group(od, "o_custkey", test_frac=0.25)
    return train.select("o_orderkey", "o_custkey")


SQL_SPLIT_GROUP = """
SELECT o_orderkey, o_custkey FROM orders
WHERE NOT ((('0x' || substr(md5(o_custkey::VARCHAR), 1, 8))::BIGINT)
           / 4294967296.0 < 0.25)
"""


def q_quantile_bin(spark, sf_dir):
    """Equal-frequency quartile binning of order value — learned
    boundaries (exact interpolated percentiles), codegen assignment.
    Fit (one ``percentile`` aggregate) runs on EVERY call (VERDICT r12
    #1: no cross-run fit memo)."""
    from .operators import QuantileBinner

    od = _t(spark, sf_dir, "orders")
    qb = QuantileBinner(inputs=["o_totalprice"], outputs=["price_bin"],
                        n_bins=4).fit(od)
    return qb.transform(od).select("o_orderkey", "price_bin")


SQL_QUANTILE_BIN = """
WITH b AS (
  SELECT quantile_cont(o_totalprice, 0.25) AS q1,
         quantile_cont(o_totalprice, 0.50) AS q2,
         quantile_cont(o_totalprice, 0.75) AS q3
  FROM orders)
SELECT o_orderkey,
       CAST((o_totalprice > q1)::INT + (o_totalprice > q2)::INT
            + (o_totalprice > q3)::INT AS INT) AS price_bin
FROM orders, b
"""

_SNAP_SOURCES = ", ".join(f"'src{i}'" for i in range(10))


def q_dedup_incremental(spark, sf_dir):
    """Steady-state ingest dedup: treat sources src0-src9 as the
    existing corpus snapshot (reduced to a digest index) and dedup the
    src10-src19 batch against it + within itself."""
    docs = _t(spark, sf_dir, "documents")
    snap_sources = [f"src{i}" for i in range(10)]
    snapshot = docs.filter(F.col("source").isin(snap_sources))
    batch = docs.filter(~F.col("source").isin(snap_sources))
    inc = dd.IncrementalDeduplicator()
    return inc.transform(batch, inc.digests(snapshot)).select(
        "doc_id", "source")


SQL_DEDUP_INCREMENTAL = f"""
WITH snap AS (
  SELECT DISTINCT text FROM documents WHERE source IN ({_SNAP_SOURCES})),
batch AS (
  SELECT * FROM documents WHERE source NOT IN ({_SNAP_SOURCES})),
keep AS (
  SELECT min(doc_id) AS doc_id FROM batch
  WHERE text NOT IN (SELECT text FROM snap)
  GROUP BY text)
SELECT b.doc_id, b.source FROM batch b JOIN keep USING (doc_id)
"""


def q_sample_cap_domain(spark, sf_dir):
    """Per-domain quota: at most 20 docs per source, md5-chosen."""
    from .sources import cap_per_group

    docs = _t(spark, sf_dir, "documents")
    return cap_per_group(docs, "source", "doc_id", 20).select(
        "doc_id", "source")


SQL_SAMPLE_CAP_DOMAIN = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
  FROM documents)
WHERE rk <= 20
"""


def q_text_tfidf(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return tx.TfIdf(min_df=5).transform(docs)


SQL_TEXT_TFIDF = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
dt AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
tdf AS (SELECT term, count(*) AS df FROM dt GROUP BY term
        HAVING count(*) >= 5),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
SELECT dt.doc_id, dt.term, dt.tf,
       ROUND(dt.tf * (ln((1.0 + n_docs) / (1.0 + df)) + 1.0), 6) AS tfidf
FROM dt JOIN tdf USING (term), n
"""


# ==========================================================================
# Registry
# ==========================================================================

# ==========================================================================
# Relational tier: skew-salted join, blocklist anti-join, top-k per group,
# single-pass profiling
# ==========================================================================

def q_join_salted(spark, sf_dir):
    """Skew-resistant fact⋈dim join: lineitem ⋈ orders on (orderkey,
    __salt) — the hot-key mitigation shape (relational.salted_join).
    Row-identical to the plain join, so the oracle is the unsalted SQL;
    the salt lives only in the shuffle keys.  Salt source is the
    lineitem PK (orderkey, linenumber) — NEVER the join key itself,
    which would put a hot key's rows back on one reducer."""
    from .relational import salted_join
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    j = salted_join(li.withColumnRenamed("l_orderkey", "o_orderkey"), od,
                    on="o_orderkey", how="inner", n_salts=8,
                    salt_src=["o_orderkey", "l_linenumber"])
    return (j.groupBy("o_orderpriority")
            .agg(F.sum(_rev()).alias("_r"),
                 F.count(F.lit(1)).alias("n_items"))
            .select("o_orderpriority",
                    F.col("_r").cast("double").alias("revenue"), "n_items"))


SQL_JOIN_SALTED = f"""
SELECT o_orderpriority, CAST(sum({_REV}) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def q_join_salted_auto(spark, sf_dir):
    """Statistics-GATED salting (relational.maybe_salted_join, VERDICT
    r10 #2): same lineitem ⋈ orders aggregate as join_salted, but the
    helper measures the hot-key share first and — orderkey being
    unskewed (≤7 lines per order) — falls through to the PLAIN join,
    skipping the measured 4.5–8.7× replication overhead.  The oracle is
    the same unsalted SQL: the gate can only choose a plan, never
    change values.  test_relational.py pins that this input takes the
    ungated plan (no __salt anywhere) and that a hot-key input flips
    the gate."""
    from .relational import maybe_salted_join
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    j = maybe_salted_join(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), od,
        on="o_orderkey", how="inner", n_salts=8,
        salt_src=["o_orderkey", "l_linenumber"])
    return (j.groupBy("o_orderpriority")
            .agg(F.sum(_rev()).alias("_r"),
                 F.count(F.lit(1)).alias("n_items"))
            .select("o_orderpriority",
                    F.col("_r").cast("double").alias("revenue"), "n_items"))


def q_filter_blocklist(spark, sf_dir):
    """Blocklist anti-join (relational.filter_blocklist): drop every
    event from error-heavy users (>= 14 error events — a criterion that
    splits the user population at every sf, so both kept and dropped
    sides are non-empty), then aggregate.  left_anti == NOT EXISTS
    (NULL-safe, unlike NOT IN); AQE picks the join strategy for the
    blocklist side."""
    from .relational import filter_blocklist
    ev = _events(spark, sf_dir)
    blocked = (ev.filter(F.col("event_type") == "error")
               .groupBy("user_id").agg(F.count(F.lit(1)).alias("n_err"))
               .filter(F.col("n_err") >= 14).select("user_id"))
    kept = filter_blocklist(ev, blocked, "user_id")
    return (kept.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("value").cast("double").alias("total_value")))


SQL_FILTER_BLOCKLIST = """
SELECT event_type, count(*) AS n, CAST(sum(value) AS DOUBLE) AS total_value
FROM events e
WHERE NOT EXISTS (
    SELECT 1 FROM (SELECT user_id FROM events WHERE event_type = 'error'
                   GROUP BY user_id HAVING count(*) >= 14) b
    WHERE b.user_id = e.user_id)
GROUP BY event_type
"""


def q_topk_per_segment(spark, sf_dir):
    """Top-3 customers by balance per market segment
    (relational.topk_per_group): rank-limit window — bounded per-group
    heap (WindowGroupLimit), not a full per-group sort."""
    from .relational import topk_per_group
    cu = _t(spark, sf_dir, "customer")
    top = topk_per_group(cu, "c_mktsegment", "c_acctbal", k=3,
                         tiebreak="c_custkey")
    return top.select("c_mktsegment", F.col("rk").cast("long").alias("rk"),
                      "c_custkey", "c_acctbal")


SQL_TOPK_PER_SEGMENT = """
SELECT c_mktsegment, rk, c_custkey, c_acctbal
FROM (SELECT c_mktsegment, c_custkey, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey ASC) AS rk
      FROM customer) t
WHERE rk <= 3
"""


def q_clip_outliers(spark, sf_dir):
    """Quantile winsorization (operators.OutlierClipper): clamp
    l_extendedprice into its fitted [p05, p95].  exact=True so the
    bounds match DuckDB's interpolated quantile_cont; the
    approx_percentile sketch tier is the bounded-memory 100 TB default.
    Fit is one agg job; transform is pure least/greatest codegen."""
    from .operators.outlier_clipper import OutlierClipper
    li = _t(spark, sf_dir, "lineitem")
    # fit runs on EVERY call (VERDICT r12 #1: no cross-run fit memo)
    op = OutlierClipper(inputs=["l_extendedprice"],
                        outputs=["price_clipped"],
                        strategy="quantile", lo_q=0.05, hi_q=0.95,
                        exact=True).fit(li)
    return op.transform(li).select("l_orderkey", "l_linenumber",
                                   "price_clipped")


SQL_CLIP_OUTLIERS = """
SELECT l_orderkey, l_linenumber,
       LEAST(GREATEST(l_extendedprice, b.lo), b.hi) AS price_clipped
FROM lineitem,
     (SELECT quantile_cont(l_extendedprice, 0.05) AS lo,
             quantile_cont(l_extendedprice, 0.95) AS hi FROM lineitem) b
"""


_LAYOUT_SCRATCH = None


def _layout_scratch_dir() -> str:
    """Process-scoped scratch dir for the clustered-layout round-trip
    query (same lifecycle discipline as the IVF index scratch: one dir
    per process, overwritten per invocation, removed at exit)."""
    global _LAYOUT_SCRATCH
    if _LAYOUT_SCRATCH is None:
        import atexit
        import shutil
        import tempfile

        _LAYOUT_SCRATCH = tempfile.mkdtemp(prefix="dfp_layout_")
        atexit.register(shutil.rmtree, _LAYOUT_SCRATCH, ignore_errors=True)
    return _LAYOUT_SCRATCH


def q_layout_pruned_scan(spark, sf_dir):
    """Clustered-layout round-trip (sources.write_clustered): events →
    hive-partitioned by event_type + in-file sorted by user_id → read
    back with a filter on both levels.  The re-read plan must show
    PartitionFilters (directory pruning) and a PushedFilters range on
    user_id that parquet min/max row-group stats can act on — asserted
    in test_plans.py.  The oracle computes the same aggregate off the
    original table: layout changes must never change answers."""
    from .sources import write_clustered
    import os

    ev = _events(spark, sf_dir)
    path = os.path.join(_layout_scratch_dir(), "events_clustered")
    write_clustered(ev, path, partition_by=["event_type"],
                    cluster_by=["user_id"])
    back = spark.read.parquet(path)
    return (back.filter((F.col("event_type") == "click")
                        & (F.col("user_id") < 1000))
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_clicks"),
                 F.sum("value").cast("double").alias("total_value")))


SQL_LAYOUT_PRUNED_SCAN = """
SELECT user_id, count(*) AS n_clicks, CAST(sum(value) AS DOUBLE) AS total_value
FROM events
WHERE event_type = 'click' AND user_id < 1000
GROUP BY user_id
"""


def q_pivot_event_counts(spark, sf_dir):
    """Long→wide pivot (reshape.pivot_agg): per-user event-type counts
    as columns.  The value list is explicit and the cells are
    conditional aggregates — ONE hash aggregate over one scan, no
    hidden distinct-discovery job and no stacked pivotfirst aggregate
    (the 100 TB pivot contract; count(when(cond,1)) == SQL FILTER
    semantics, absent combos are 0)."""
    from .reshape import pivot_agg
    ev = _events(spark, sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    return pivot_agg(ev, "user_id", "event_type", types,
                     lambda cond: F.count(F.when(cond, 1)), prefix="n_")


SQL_PIVOT_EVENT_COUNTS = """
SELECT user_id,
       count(*) FILTER (WHERE event_type = 'click')    AS n_click,
       count(*) FILTER (WHERE event_type = 'error')    AS n_error,
       count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
       count(*) FILTER (WHERE event_type = 'signup')   AS n_signup,
       count(*) FILTER (WHERE event_type = 'view')     AS n_view
FROM events GROUP BY user_id
"""


def q_melt_measures(spark, sf_dir):
    """Wide→long melt (reshape.melt — map-only stack, zero shuffle)
    feeding a per-variable aggregate."""
    from .reshape import melt
    li = _t(spark, sf_dir, "lineitem")
    long = melt(li, ["l_orderkey"],
                ["l_quantity", "l_extendedprice", "l_discount"])
    return (long.groupBy("variable")
            .agg(F.avg("value").alias("avg_value"),
                 F.count(F.lit(1)).alias("n")))


SQL_MELT_MEASURES = """
SELECT 'l_quantity' AS variable, avg(l_quantity) AS avg_value, count(*) AS n
FROM lineitem
UNION ALL
SELECT 'l_extendedprice', avg(l_extendedprice), count(*) FROM lineitem
UNION ALL
SELECT 'l_discount', avg(l_discount), count(*) FROM lineitem
"""


def q_merge_latest(spark, sf_dir):
    """CDC latest-wins snapshot merge (sources.merge_latest): base
    snapshot (version 0) + a synthetic change batch touching every
    10th order (version 1, doubled price).  One keyed shuffle, winner
    per key via the rank-limit window.  The oracle replays the same
    merge as a CASE over the base table."""
    from .sources import merge_latest
    od = _t(spark, sf_dir, "orders")
    base = od.withColumn("__v", F.lit(0))
    updates = (od.filter(F.col("o_orderkey") % 10 == 0)
               .withColumn("o_totalprice", F.col("o_totalprice") * 2)
               .withColumn("__v", F.lit(1)))
    merged = merge_latest(base, updates, "o_orderkey", "__v")
    return merged.select("o_orderkey", "o_totalprice").drop("__v")


SQL_MERGE_LATEST = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2
            ELSE o_totalprice END AS o_totalprice
FROM orders
"""


def q_embed_label_centroid(spark, sf_dir):
    """Per-label embedding centroids (similarity.label_centroids):
    posexplode + ONE partial-aggregatable hash agg — the 64x explode
    collapses to n_labels x dim partials map-side, so the shuffle is
    O(labels x dim), not O(rows x dim)."""
    from .similarity import label_centroids
    emb = _t(spark, sf_dir, "embeddings")
    out = label_centroids(emb)
    return out.select("label", (F.col("pos") + 1).alias("pos"),
                      F.round(F.col("centroid"), 6).alias("centroid"))


SQL_EMBED_LABEL_CENTROID = """
SELECT label, i AS pos,
       ROUND(avg(CAST(embedding[i] AS DOUBLE)), 6) AS centroid
FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i)
GROUP BY label, i
"""


def q_kfold_counts(spark, sf_dir):
    """Deterministic k-fold assignment (sources.kfold_assign,
    content-addressed md5 % k — leakage-safe on a group key, map-only)
    summarized as per-fold counts."""
    from .sources import kfold_assign
    od = _t(spark, sf_dir, "orders")
    return (kfold_assign(od, "o_custkey", k=5)
            .groupBy("fold").agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("fold").cast("long").alias("fold"), "n"))


SQL_KFOLD_COUNTS = """
SELECT (('0x' || substr(md5(o_custkey::VARCHAR), 1, 8))::BIGINT) % 5 AS fold,
       count(*) AS n
FROM orders GROUP BY 1
"""


def q_funnel_signup_purchase(spark, sf_dir):
    """Funnel conversion in ONE grouped aggregate: per user, the first
    signup and the last purchase land in the same hash-agg pass
    (conditional min/max — no self-join, no second scan); a purchase
    after the first signup marks conversion, then a single global
    reduce emits the funnel row.  Both aggregates are
    partial-aggregatable, so the plan is scan → partial agg → one
    shuffle on user_id → tiny final reduce."""
    ev = _events(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts")))
        .alias("first_signup"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts")))
        .alias("last_purchase"))
    return per_user.agg(
        F.count("first_signup").alias("n_signed_up"),
        F.count(F.when(F.col("last_purchase") > F.col("first_signup"), 1))
        .alias("n_converted"))


SQL_FUNNEL = """
SELECT count(first_signup) AS n_signed_up,
       count(*) FILTER (WHERE last_purchase > first_signup) AS n_converted
FROM (SELECT user_id,
             min(ts) FILTER (WHERE event_type = 'signup')   AS first_signup,
             max(ts) FILTER (WHERE event_type = 'purchase') AS last_purchase
      FROM events GROUP BY user_id)
"""


def q_cohort_retention(spark, sf_dir):
    """Weekly cohort retention: users bucketed by first-seen week,
    counted per (cohort_week, active_week).  ONE grouped aggregate per
    user computes the cohort week AND the distinct active-week set
    together (collect_set is partial-aggregatable and bounded by the
    number of distinct weeks), then the exploded per-user weeks re-count
    in a tiny hash aggregate — one fact scan, one fact exchange, no
    join, no count-distinct re-expansion of the fact.  (The former
    cohort-dim self-join + count_distinct shape paid a second scan and
    a second fact-wide aggregate: A/B sf0.1 0.508 → 0.346 s, identical
    rows.)"""
    ev = _events(spark, sf_dir)
    # NULL users never form a cohort: the oracle's inner join on
    # user_id + count(DISTINCT user_id) excludes them, and so did the
    # pre-r12 join shape — keep that semantic here (ADVICE r12).
    per_user = ev.filter(F.col("user_id").isNotNull()).groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week"),
        F.collect_set(F.date_trunc("week", F.col("ts"))).alias("__weeks"))
    return (per_user
            .select("cohort_week", F.explode("__weeks").alias("active_week"))
            .groupBy("cohort_week", "active_week")
            .agg(F.count(F.lit(1)).alias("n_users")))


SQL_COHORT_RETENTION = """
SELECT c.cohort_week, date_trunc('week', e.ts) AS active_week,
       count(DISTINCT e.user_id) AS n_users
FROM events e
JOIN (SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id) c USING (user_id)
GROUP BY c.cohort_week, active_week
"""


def q_hist_order_price(spark, sf_dir):
    """Fixed-width histogram (profiling.histogram): fitted min/max (one
    2-double agg) then a single hash aggregate on the bin id; empty
    bins materialized so the output is always n_bins rows."""
    from .profiling import histogram
    od = _t(spark, sf_dir, "orders")
    out = histogram(od, "o_totalprice", n_bins=10)
    return out.select(F.col("bin").cast("long").alias("bin"),
                      F.round("bin_lo", 6).alias("bin_lo"),
                      F.round("bin_hi", 6).alias("bin_hi"), "n")


SQL_HIST_ORDER_PRICE = """
WITH b AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi,
                  (max(o_totalprice) - min(o_totalprice)) / 10 AS w
           FROM orders),
bins AS (SELECT unnest(generate_series(0, 9)) AS bin),
counts AS (SELECT LEAST(CAST(floor((o_totalprice - b.lo) / b.w) AS BIGINT), 9)
               AS bin, count(*) AS n
           FROM orders, b GROUP BY 1)
SELECT bins.bin,
       ROUND(b.lo + bins.bin * b.w, 6) AS bin_lo,
       ROUND(b.lo + (bins.bin + 1) * b.w, 6) AS bin_hi,
       COALESCE(counts.n, 0) AS n
FROM bins CROSS JOIN b LEFT JOIN counts ON bins.bin = counts.bin
"""


def q_corr_lineitem(spark, sf_dir):
    """Pairwise Pearson correlations (profiling.correlation_matrix):
    all pairs in ONE aggregate over ONE scan — constant sufficient
    statistics per pair, partial-aggregatable."""
    from .profiling import correlation_matrix
    li = _t(spark, sf_dir, "lineitem")
    out = correlation_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount"])
    return out.select("col_a", "col_b", F.round("corr", 6).alias("corr"))


def _sql_corr_lineitem() -> str:
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    parts = []
    for i, a in enumerate(cols):
        for b in cols[i:]:
            parts.append(
                f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
                f"ROUND(corr({a}, {b}), 6) AS corr FROM lineitem")
    return " UNION ALL ".join(parts)


SQL_CORR_LINEITEM = _sql_corr_lineitem()


def q_target_encode(spark, sf_dir):
    """Smoothed mean-target encoding (operators.TargetEncoder): fit is
    one grouped agg + one global agg; the code table applies by
    broadcast-gated join; unseen/NULL get the global mean."""
    from .operators import TargetEncoder
    cu = _t(spark, sf_dir, "customer")
    enc = TargetEncoder(inputs=["c_mktsegment"], outputs=["seg_code"],
                        target="c_acctbal", smoothing=20.0)
    out = enc.fit_transform(cu)
    return out.select("c_custkey", F.round("seg_code", 6).alias("seg_code"))


SQL_TARGET_ENCODE = """
WITH g AS (SELECT avg(c_acctbal) AS gm FROM customer),
lk AS (SELECT c_mktsegment AS cat, count(c_acctbal) AS n,
              avg(c_acctbal) AS mean
       FROM customer WHERE c_mktsegment IS NOT NULL GROUP BY 1)
SELECT c.c_custkey,
       ROUND(COALESCE((lk.n * lk.mean + 20.0 * g.gm) / (lk.n + 20.0),
                      g.gm), 6) AS seg_code
FROM customer c CROSS JOIN g LEFT JOIN lk ON c.c_mktsegment = lk.cat
"""


def q_target_encode_cv(spark, sf_dir):
    """Leakage-free out-of-fold target encoding
    (operators.CVTargetEncoder): each row's code uses every fold but
    its own, via complement arithmetic off ONE grouped aggregate (one
    scan regardless of K).  Folds are md5-content-addressed so the
    oracle replays them exactly."""
    from .operators import CVTargetEncoder
    cu = _t(spark, sf_dir, "customer")
    enc = CVTargetEncoder(inputs=["c_mktsegment"], outputs=["seg_code"],
                          target="c_acctbal", fold_key="c_custkey",
                          cv_folds=4, smoothing=20.0)
    out = enc.fit_transform(cu)
    return out.select("c_custkey", F.round("seg_code", 6).alias("seg_code"))


SQL_TARGET_ENCODE_CV = """
WITH g AS (SELECT avg(c_acctbal) AS gm FROM customer),
f AS (SELECT c_custkey, c_mktsegment, c_acctbal,
             (('0x' || substr(md5(c_custkey::VARCHAR), 1, 8))::BIGINT) % 4
             AS fold
      FROM customer),
pf AS (SELECT c_mktsegment AS cat, fold,
              count(c_acctbal) AS nf, sum(c_acctbal) AS sf
       FROM f WHERE c_mktsegment IS NOT NULL GROUP BY 1, 2),
tot AS (SELECT cat, sum(nf) AS n, sum(sf) AS s FROM pf GROUP BY cat),
lk AS (SELECT pf.cat, pf.fold,
              CASE WHEN tot.n - pf.nf > 0
                   THEN ((tot.n - pf.nf) * ((tot.s - pf.sf) / (tot.n - pf.nf))
                         + 20.0 * g.gm) / (tot.n - pf.nf + 20.0)
                   ELSE g.gm END AS code
       FROM pf JOIN tot USING (cat) CROSS JOIN g)
SELECT f.c_custkey,
       ROUND(COALESCE(lk.code, g.gm), 6) AS seg_code
FROM f CROSS JOIN g
LEFT JOIN lk ON f.c_mktsegment = lk.cat AND f.fold = lk.fold
"""


def q_event_transitions(spark, sf_dir):
    """Per-user event-type transition counts (Markov matrix): lag
    window over (user, time) then one hash aggregate.  The window
    partitions by user_id (high cardinality — no low-cardinality
    window skew), ordered by (ts, event_id) for a total order under
    equal timestamps."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (ev.withColumn("__prev", F.lag("event_type").over(w))
            .filter(F.col("__prev").isNotNull())
            .groupBy(F.col("__prev").alias("from_type"),
                     F.col("event_type").alias("to_type"))
            .agg(F.count(F.lit(1)).alias("n")))


SQL_EVENT_TRANSITIONS = """
SELECT prev AS from_type, event_type AS to_type, count(*) AS n
FROM (SELECT event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events)
WHERE prev IS NOT NULL
GROUP BY 1, 2
"""


def q_quality_by_source(spark, sf_dir):
    """Per-source document-quality quantiles: QualityScorer (pure
    codegen) feeding grouped exact percentiles — the corpus-curation
    dashboard row (which sources are junk).  Exact interpolated
    percentile for oracle parity; the approx_percentile sketch is the
    100 TB tier."""
    docs = _t(spark, sf_dir, "documents")
    scored = tx.QualityScorer().transform(docs)
    return (scored.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.percentile("quality_score", F.lit(0.5)), 6)
                 .alias("p50"),
                 F.round(F.percentile("quality_score", F.lit(0.9)), 6)
                 .alias("p90")))


def _sql_quality_by_source() -> str:
    q = _sql_text_quality()
    return f"""
WITH scored AS ({q})
SELECT d.source, count(*) AS n_docs,
       ROUND(quantile_cont(s.quality_score, 0.5), 6) AS p50,
       ROUND(quantile_cont(s.quality_score, 0.9), 6) AS p90
FROM scored s JOIN documents d USING (doc_id)
GROUP BY d.source
"""


def q_snapshot_diff(spark, sf_dir):
    """Snapshot-version diff (sources.snapshot_diff): classify every
    key across two corpus versions as added/removed/changed/unchanged
    via one NULL-safe full outer join, then count per class.  The new
    version drops every 97th-residue order, doubles every 10th's
    price, and appends shifted-key rows — all four classes exercised."""
    from .sources import snapshot_diff
    od = _t(spark, sf_dir, "orders")
    new = (od.filter(F.col("o_orderkey") % 97 != 3)
           .withColumn("o_totalprice",
                       F.when(F.col("o_orderkey") % 10 == 0,
                              F.col("o_totalprice") * 2)
                       .otherwise(F.col("o_totalprice"))))
    added = (od.filter(F.col("o_orderkey") % 211 == 0)
             .withColumn("o_orderkey", F.col("o_orderkey") + 20_000_000))
    diff = snapshot_diff(od, new.unionByName(added), "o_orderkey",
                         compare=["o_totalprice"])
    return diff.groupBy("status").agg(F.count(F.lit(1)).alias("n"))


SQL_SNAPSHOT_DIFF = """
SELECT 'removed' AS status, count(*) AS n FROM orders WHERE o_orderkey % 97 = 3
UNION ALL
SELECT 'changed', count(*) FROM orders
WHERE o_orderkey % 97 != 3 AND o_orderkey % 10 = 0 AND o_totalprice != 0
UNION ALL
SELECT 'unchanged', count(*) FROM orders
WHERE o_orderkey % 97 != 3 AND NOT (o_orderkey % 10 = 0 AND o_totalprice != 0)
UNION ALL
SELECT 'added', count(*) FROM orders WHERE o_orderkey % 211 = 0
"""


def q_events_trending(spark, sf_dir):
    """Trending analysis: top-2 event types per 6-hour tumbling window
    — event-time window aggregate into the rank-limit window
    (WindowGroupLimit bounded heaps via relational.topk_per_group)."""
    from .relational import topk_per_group
    ev = _events(spark, sf_dir)
    counts = (ev.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
              .agg(F.count(F.lit(1)).alias("n"))
              .select(F.col("w.start").alias("window_start"),
                      "event_type", "n"))
    top = topk_per_group(counts, "window_start", "n", k=2,
                         tiebreak="event_type")
    return top.select("window_start", F.col("rk").cast("long").alias("rk"),
                      "event_type", "n")


SQL_EVENTS_TRENDING = """
WITH c AS (
  SELECT time_bucket(INTERVAL 6 HOUR, ts) AS window_start,
         event_type, count(*) AS n
  FROM events GROUP BY 1, 2)
SELECT window_start, rk, event_type, n
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
                                   ORDER BY n DESC, event_type ASC) AS rk
      FROM c) t
WHERE rk <= 2
"""


def q_graph_pagerank(spark, sf_dir):
    """Fixed-iteration PageRank (graph.pagerank) over the bipartite
    order→part graph, top-20 by rank.  The graph is materialized ONCE
    as a chunked adjacency index (graph.build_adjacency — the r8
    shape: iterations join per-source state and explode, never
    re-shuffling the edge list) and passed LAZILY: the plan reuses the
    one build exchange (ReusedExchange) for every iteration, and
    nothing is persisted or checkpointed.  3 iterations so the DuckDB
    oracle can replay the exact unrolled computation;
    TakeOrderedAndProject for the top slice."""
    from .graph import build_adjacency, pagerank

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(F.col("l_orderkey").alias("src"),
                      (F.col("l_partkey") + 100_000_000).alias("dst"))
    pr = pagerank(adj=build_adjacency(edges), iters=3)
    return (pr.select("id", F.round("pr", 6).alias("pr"))
            .orderBy(F.desc("pr"), F.asc("id")).limit(20))


SQL_GRAPH_PAGERANK = """
WITH e AS (SELECT DISTINCT l_orderkey AS s, l_partkey + 100000000 AS d
           FROM lineitem),
nodes AS (SELECT s AS id FROM e UNION SELECT d FROM e),
deg AS (SELECT s, count(*) AS dg FROM e GROUP BY s),
pr0 AS (SELECT id, 1.0 AS pr FROM nodes),
pr1 AS (SELECT n.id, 0.15 + 0.85 * COALESCE(c.c, 0) AS pr
        FROM nodes n LEFT JOIN (
          SELECT e.d AS id, sum(p.pr / deg.dg) AS c
          FROM e JOIN pr0 p ON e.s = p.id JOIN deg ON e.s = deg.s
          GROUP BY e.d) c ON n.id = c.id),
pr2 AS (SELECT n.id, 0.15 + 0.85 * COALESCE(c.c, 0) AS pr
        FROM nodes n LEFT JOIN (
          SELECT e.d AS id, sum(p.pr / deg.dg) AS c
          FROM e JOIN pr1 p ON e.s = p.id JOIN deg ON e.s = deg.s
          GROUP BY e.d) c ON n.id = c.id),
pr3 AS (SELECT n.id, 0.15 + 0.85 * COALESCE(c.c, 0) AS pr
        FROM nodes n LEFT JOIN (
          SELECT e.d AS id, sum(p.pr / deg.dg) AS c
          FROM e JOIN pr2 p ON e.s = p.id JOIN deg ON e.s = deg.s
          GROUP BY e.d) c ON n.id = c.id)
SELECT id, ROUND(pr, 6) AS pr FROM pr3
ORDER BY pr DESC, id ASC LIMIT 20
"""


def q_range_join_bands(spark, sf_dir):
    """Keyless point-in-interval join (relational.range_join): part
    prices assigned to price bands with NO equality column — the shape
    Spark's planner would otherwise execute as BroadcastNestedLoopJoin
    (O(points × intervals) comparisons).  The binning trick restores a
    hash equi-join on the bucket id; plan-asserted in
    test_relational.py."""
    from .relational import range_join
    part = _t(spark, sf_dir, "part")
    bands = spark.range(10).select(
        F.col("id").alias("band_id"),
        (900.0 + F.col("id") * 10).alias("lo"),
        (900.0 + F.col("id") * 10 + 9.99).alias("hi"))
    j = range_join(part, bands, "p_retailprice", "lo", "hi", bin_width=10.0)
    return (j.groupBy("band_id")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("p_retailprice"), 6).alias("avg_price")))


SQL_RANGE_JOIN_BANDS = """
WITH bands AS (
  SELECT k AS band_id, 900.0 + k * 10 AS lo, 900.0 + k * 10 + 9.99 AS hi
  FROM (SELECT unnest(generate_series(0, 9)) AS k))
SELECT band_id, count(*) AS n, ROUND(avg(p_retailprice), 6) AS avg_price
FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice <= hi
GROUP BY band_id
"""


def q_record_linkage(spark, sf_dir):
    """Structured entity resolution (dedup.RecordLinker): customer
    pairs blocked on (nation, segment, name-prefix) and scored by
    normalized Levenshtein name similarity — codegen scoring inside
    the block join, no Python in the pair loop.  The name prefix keeps
    block sizes bounded as the corpus grows (block design is the
    scale knob; key_skew is the diagnostic)."""
    cu = (_t(spark, sf_dir, "customer")
          .withColumn("__prefix", F.substring("c_name", 1, 14)))
    linker = dd.RecordLinker(
        block_on=["c_nationkey", "c_mktsegment", "__prefix"],
        compare={"c_name": 1.0}, threshold=0.93)
    return linker.pairs(cu, "c_custkey")


SQL_RECORD_LINKAGE = """
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       ROUND(1.0 - levenshtein(a.c_name, b.c_name)
                   / GREATEST(length(a.c_name), length(b.c_name), 1),
             6) AS score
FROM customer a JOIN customer b
  ON a.c_custkey < b.c_custkey
 AND a.c_nationkey = b.c_nationkey
 AND a.c_mktsegment = b.c_mktsegment
 AND substr(a.c_name, 1, 14) = substr(b.c_name, 1, 14)
WHERE 1.0 - levenshtein(a.c_name, b.c_name)
            / GREATEST(length(a.c_name), length(b.c_name), 1) >= 0.93
"""


def q_hash_encode(spark, sf_dir):
    """Feature hashing (operators.HashingEncoder): stateless
    md5 % n_buckets — no vocabulary pass, no unseen problem, map-only;
    md5 keeps buckets engine-portable for the oracle."""
    from .operators import HashingEncoder
    docs = _t(spark, sf_dir, "documents")
    enc = HashingEncoder(inputs=["source"], outputs=["src_bucket"],
                         n_buckets=16)
    return (enc.transform(docs)
            .select("doc_id", F.col("src_bucket").cast("long")
                    .alias("src_bucket")))


SQL_HASH_ENCODE = """
SELECT doc_id,
       (('0x' || substr(md5(source), 1, 8))::BIGINT) % 16 AS src_bucket
FROM documents
"""


def q_scaler_robust(spark, sf_dir):
    """RobustScaler parity: (x - median) / IQR with exact interpolated
    quartiles (the bounded-memory approx_percentile tier is the 100 TB
    path, same trade as agg_group_median)."""
    from .operators import Scaler
    li = _t(spark, sf_dir, "lineitem")
    # fit runs on EVERY call (VERDICT r12 #1: no cross-run fit memo)
    sc = Scaler(inputs=["l_extendedprice"], outputs=["price_r"],
                strategy="robust").fit(li)
    return sc.transform(li).select("l_orderkey", "l_linenumber",
                                   F.round("price_r", 6).alias("price_r"))


SQL_SCALER_ROBUST = """
WITH s AS (SELECT quantile_cont(l_extendedprice, 0.5) AS md,
                  quantile_cont(l_extendedprice, 0.75)
                  - quantile_cont(l_extendedprice, 0.25) AS iqr
           FROM lineitem)
SELECT l_orderkey, l_linenumber,
       ROUND((l_extendedprice - s.md) / s.iqr, 6) AS price_r
FROM lineitem CROSS JOIN s
"""


# --------------------------------------------------------------------------
# Sketch-tier twins of the exact-percentile queries (the 100 TB defaults)
# --------------------------------------------------------------------------
#
# clip_outliers / scaler_robust / expect_orders pin exact percentiles and
# exact count-distinct purely for oracle parity; their sort-based
# percentile / Expand distinct are the only >2s-absolute DuckDB losses at
# sf1 (VERDICT r4).  These twins declare the bounded-memory sketch tiers
# as oracle-checked queries, pattern per dedup_embedding_auto: the oracle
# is GENERATED from the same fitted state the Spark query uses, and the
# fit is tolerance-checked against DuckDB's exact computation — the
# sketch's error guarantee is verified on this data, not assumed.
#
# percentile_approx is deterministic for a fixed plan but NOT across
# partition layouts (Greenwald-Khanna summary merges), so fitted state is
# cached per (kind, sf_dir): the Spark query and its generated oracle
# replay the SAME literals and cannot drift within the verifying process.

_SKETCH_FIT_CACHE: dict = {}


def _exact_quantile_band(sf_dir: str, q: float, eps: float):
    """Exact [q-eps, q+eps] quantile band of l_extendedprice, computed
    independently by DuckDB."""
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(
            f"SELECT quantile_cont(l_extendedprice, {max(0.0, q - eps)}), "
            f"quantile_cont(l_extendedprice, {min(1.0, q + eps)}) "
            f"FROM '{sf_dir}/lineitem.parquet'").fetchone()
    finally:
        con.close()


def _quantile_rank_slack(sf_dir: str, accuracy: int) -> float:
    """Rank-fraction slack for the band check: 5/accuracy covers the GK
    guarantee (1/accuracy) plus partial-summary merge inflation, and
    +2/n absorbs element-vs-interpolated discretization at small n
    (percentile_approx returns actual data elements; quantile_cont
    interpolates between ranks)."""
    import os

    import pyarrow.parquet as pq

    n = pq.ParquetFile(
        os.path.join(sf_dir, "lineitem.parquet")).metadata.num_rows
    return 5.0 / accuracy + 2.0 / max(n, 1)


def _check_quantile_band(sf_dir: str, pairs, accuracy: int) -> None:
    """Assert each fitted (q, value) lies inside the exact quantile band
    [q - eps, q + eps] — verifies percentile_approx's rank-error
    guarantee on this data rather than trusting it."""
    eps = _quantile_rank_slack(sf_dir, accuracy)
    for q, v in pairs:
        lo, hi = _exact_quantile_band(sf_dir, q, eps)
        if not (lo <= v <= hi):
            raise AssertionError(
                f"approx quantile {q} fitted {v} outside exact band "
                f"[{lo}, {hi}] (rank slack {eps})")


def _fitted_clipper_approx(spark, sf_dir):
    import os

    from .operators.outlier_clipper import OutlierClipper

    key = ("clip", os.path.abspath(sf_dir))
    if key not in _SKETCH_FIT_CACHE:
        op = OutlierClipper(inputs=["l_extendedprice"],
                            outputs=["price_clipped"],
                            strategy="quantile", lo_q=0.05, hi_q=0.95,
                            exact=False, accuracy=10000)
        op.fit(_t(spark, sf_dir, "lineitem"))
        lo, hi = op.bounds_[0]
        _check_quantile_band(sf_dir, [(0.05, lo), (0.95, hi)], op.accuracy)
        _SKETCH_FIT_CACHE[key] = op
    return _SKETCH_FIT_CACHE[key]


def q_clip_outliers_approx(spark, sf_dir):
    """clip_outliers on the sketch tier: percentile_approx bounds
    (bounded memory, one pass, mergeable partials — no full-column sort)
    are the 100 TB default the OutlierClipper ships with.  The oracle
    replays the fitted bounds as literals; the bounds themselves are
    band-checked against DuckDB's exact quantiles at fit time."""
    op = _fitted_clipper_approx(spark, sf_dir)
    out = op.transform(_t(spark, sf_dir, "lineitem"))
    return out.select("l_orderkey", "l_linenumber", "price_clipped")


def _sql_clip_outliers_approx(sf_dir: str) -> str:
    from .session import get_spark

    op = _fitted_clipper_approx(get_spark(), sf_dir)
    lo, hi = op.bounds_[0]
    return f"""
SELECT l_orderkey, l_linenumber,
       LEAST(GREATEST(l_extendedprice, {lo!r}), {hi!r}) AS price_clipped
FROM lineitem
"""


def _fitted_robust_approx(spark, sf_dir):
    import os

    from .operators import Scaler

    key = ("robust", os.path.abspath(sf_dir))
    if key not in _SKETCH_FIT_CACHE:
        sc = Scaler(inputs=["l_extendedprice"], outputs=["price_r"],
                    strategy="robust", approx=True)
        sc.fit(_t(spark, sf_dir, "lineitem"))
        eps = _quantile_rank_slack(sf_dir, sc.accuracy)
        md, scale = sc.offsets[0], sc.scales[0]
        _check_quantile_band(sf_dir, [(0.5, md)], sc.accuracy)
        # IQR band: q3a - q1a with q1a/q3a each inside their exact band
        q1_lo, q1_hi = _exact_quantile_band(sf_dir, 0.25, eps)
        q3_lo, q3_hi = _exact_quantile_band(sf_dir, 0.75, eps)
        iqr = 1.0 / scale
        if not (q3_lo - q1_hi <= iqr <= q3_hi - q1_lo):
            raise AssertionError(
                f"approx IQR {iqr} outside exact band "
                f"[{q3_lo - q1_hi}, {q3_hi - q1_lo}]")
        _SKETCH_FIT_CACHE[key] = sc
    return _SKETCH_FIT_CACHE[key]


def q_scaler_robust_approx(spark, sf_dir):
    """RobustScaler on the sketch tier: quartiles from ONE
    percentile_approx state (bounded memory, no sort) — the 100 TB
    path.  Fitted median/IQR are band-checked vs DuckDB's exact
    quantiles; the oracle replays them as literals with the same
    subtract-then-multiply arithmetic the transform compiles to."""
    sc = _fitted_robust_approx(spark, sf_dir)
    out = sc.transform(_t(spark, sf_dir, "lineitem"))
    return out.select("l_orderkey", "l_linenumber",
                      F.round("price_r", 6).alias("price_r"))


def _sql_scaler_robust_approx(sf_dir: str) -> str:
    from .session import get_spark

    sc = _fitted_robust_approx(get_spark(), sf_dir)
    md, scale = sc.offsets[0], sc.scales[0]
    return f"""
SELECT l_orderkey, l_linenumber,
       ROUND((l_extendedprice - {md!r}) * {scale!r}, 6) AS price_r
FROM lineitem
"""


def _hll_orderkey_estimate(spark, sf_dir, rsd: float = 0.05) -> int:
    """approx_count_distinct(o_orderkey) — HLL++ register merges are
    order- and partition-independent, so the estimate is a pure function
    of the value set; cached to save the extra job, tolerance-checked
    against DuckDB's exact distinct at 3x the sketch's rsd."""
    import os

    key = ("hll", os.path.abspath(sf_dir))
    if key not in _SKETCH_FIT_CACHE:
        od = _t(spark, sf_dir, "orders")
        est = int(od.agg(F.approx_count_distinct("o_orderkey", rsd)
                         .alias("d")).first()["d"])
        import duckdb

        con = duckdb.connect()
        try:
            exact = con.execute(
                f"SELECT count(DISTINCT o_orderkey) "
                f"FROM '{sf_dir}/orders.parquet'").fetchone()[0]
        finally:
            con.close()
        if abs(est - exact) > 3 * rsd * exact:
            raise AssertionError(
                f"HLL estimate {est} outside 3-sigma band of exact "
                f"{exact} (rsd {rsd})")
        _SKETCH_FIT_CACHE[key] = est
    return _SKETCH_FIT_CACHE[key]


def _fitted_group_agg_approx(spark, sf_dir, kind):
    """Fit the grouped sketch aggregator ONCE per (kind, sf_dir) and
    tolerance-check every group's estimate against DuckDB's exact
    aggregate.  The fitted lookup is a snapshot (a GK percentile
    sketch's merge order varies with task completion, so a lookup
    re-evaluated at transform time could drift from the oracle).
    Returns the fitted Aggregator + the fitted rows."""
    import os

    from .operators import Aggregator

    key = (kind, os.path.abspath(sf_dir))
    if key not in _SKETCH_FIT_CACHE:
        li = _t(spark, sf_dir, "lineitem")
        if kind == "gmed":
            agg = Aggregator(inputs=["l_extendedprice"],
                             outputs=["price_med_supp"],
                             groupby=["l_suppkey"], func="approx_median")
        else:
            agg = Aggregator(inputs=["l_partkey"],
                             outputs=["parts_per_supp"],
                             groupby=["l_suppkey"], func="approx_nunique")
        agg.fit(li)
        table, outmap = agg._lookups["l_suppkey"]
        rows = table.df.collect()
        val_col = next(iter(outmap.values()))
        fitted = {r["__dfp_key"]: r[val_col] for r in rows}

        import duckdb

        con = duckdb.connect()
        try:
            if kind == "gmed":
                # per-group exact quantile band at the GK rank slack
                # (5/accuracy) plus 2 ranks of element-vs-interpolated
                # discretization; the rank slack uses the SMALLEST group
                # (conservative for every larger one) so the whole check
                # is TWO grouped DuckDB queries, not one per group
                acc = 10000
                min_n = con.execute(
                    f"SELECT min(cnt) FROM (SELECT count(l_extendedprice)"
                    f" AS cnt FROM '{sf_dir}/lineitem.parquet' "
                    f"GROUP BY l_suppkey)").fetchone()[0]
                eps = 5.0 / acc + 2.0 / max(min_n, 1)
                for g, lo, hi in con.execute(
                    f"SELECT l_suppkey, "
                    f"quantile_cont(l_extendedprice, {max(0.0, 0.5 - eps)}), "
                    f"quantile_cont(l_extendedprice, {min(1.0, 0.5 + eps)}) "
                    f"FROM '{sf_dir}/lineitem.parquet' GROUP BY 1"
                ).fetchall():
                    got = fitted[g]
                    if not (lo <= got <= hi):
                        raise AssertionError(
                            f"group {g} approx median {got} outside exact "
                            f"band [{lo}, {hi}] (eps {eps})")
            else:
                for g, exact in con.execute(
                    f"SELECT l_suppkey, count(DISTINCT l_partkey) FROM "
                    f"'{sf_dir}/lineitem.parquet' GROUP BY 1").fetchall():
                    est = fitted[g]
                    if abs(est - exact) > max(3 * 0.02 * exact, 2):
                        raise AssertionError(
                            f"group {g} HLL estimate {est} vs exact "
                            f"{exact} outside 3-sigma band")
        finally:
            con.close()
        _SKETCH_FIT_CACHE[key] = (agg, sorted(fitted.items()))
    return _SKETCH_FIT_CACHE[key]


def q_agg_group_median_approx(spark, sf_dir):
    """agg_group_median on the KLL/GK sketch tier: one bounded-memory
    percentile_approx state per group instead of collecting each
    group's full column — the 100 TB default (same trade as
    clip_outliers_approx).  Fitted per-group medians are band-checked
    vs DuckDB's exact quantiles; the oracle replays them as a VALUES
    join."""
    agg, _vals = _fitted_group_agg_approx(spark, sf_dir, "gmed")
    li = _t(spark, sf_dir, "lineitem")
    out = agg.transform(li)
    return _r6(out.select("l_orderkey", "l_linenumber", "price_med_supp"),
               "price_med_supp")


def _sql_agg_group_median_approx(sf_dir: str) -> str:
    from .session import get_spark

    _agg, vals = _fitted_group_agg_approx(get_spark(), sf_dir, "gmed")
    values = ", ".join(f"({g}, {float(v)!r})" for g, v in vals)
    return f"""
SELECT l.l_orderkey, l.l_linenumber,
       ROUND(g.v, 6) AS price_med_supp
FROM lineitem l JOIN (VALUES {values}) g(l_suppkey, v)
  ON l.l_suppkey = g.l_suppkey
"""


def q_agg_group_nunique_approx(spark, sf_dir):
    """agg_group_nunique on the HLL++ tier: fixed-memory register
    merges instead of shuffling every distinct (supplier, part) pair —
    the 100 TB default.  Estimates are 3-sigma-checked per group vs
    DuckDB's exact distinct counts."""
    agg, _vals = _fitted_group_agg_approx(spark, sf_dir, "gnun")
    li = _t(spark, sf_dir, "lineitem")
    return (agg.transform(li)
            .select("l_orderkey", "l_linenumber", "parts_per_supp"))


def _sql_agg_group_nunique_approx(sf_dir: str) -> str:
    from .session import get_spark

    _agg, vals = _fitted_group_agg_approx(get_spark(), sf_dir, "gnun")
    values = ", ".join(f"({g}, {int(v)})" for g, v in vals)
    return f"""
SELECT l.l_orderkey, l.l_linenumber, g.v AS parts_per_supp
FROM lineitem l JOIN (VALUES {values}) g(l_suppkey, v)
  ON l.l_suppkey = g.l_suppkey
"""


def q_expect_orders_hll(spark, sf_dir):
    """expect_orders on the suite's DEFAULT tier: uniqueness via
    approx_count_distinct (HLL++, fixed memory, no Expand — 0.25s vs
    0.76s of the sf1 aggregate) with the 2x-rsd duplicate tolerance.
    Every other check is identical to expect_orders and rides the same
    single aggregate pass."""
    from . import expectations as ex

    od = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    suite = ex.ExpectationSuite(checks=[
        ex.not_null("o_custkey"),
        ex.in_range("o_totalprice", 0, 400000, max_bad_frac=0.25),
        ex.in_set("o_orderstatus", ["F", "O"]),
        ex.matches("o_orderpriority", "^[1-5]-"),
        ex.unique("o_orderkey"),
        ex.row_count(1000, 1000000),
        ex.mean_between("o_totalprice", 200000, 300000),
        ex.fresh("o_orderdate", "2001-01-01"),
        ex.fk_in("o_custkey", cu, "c_custkey"),
    ])  # exact=False default: the production configuration
    return suite.report(od)


_UNIQUE_EXACT_BLOCK = """SELECT 'unique(o_orderkey)', 'o_orderkey',
       (nn - d) <= 0, CAST(d AS DOUBLE), GREATEST(nn - d, 0)
FROM (SELECT count(DISTINCT o_orderkey) AS d, count(o_orderkey) AS nn
      FROM orders)"""


def _sql_expect_orders_hll(sf_dir: str) -> str:
    """expect_orders oracle with the unique row's HLL estimate replayed
    as a literal (tolerance-checked in _hll_orderkey_estimate); the
    pass rule is the suite's 2x-rsd duplicate band."""
    from .session import get_spark

    est = _hll_orderkey_estimate(get_spark(), sf_dir)
    approx_block = f"""SELECT 'unique(o_orderkey)', 'o_orderkey',
       (nn - {est}) <= 0.1 * nn, CAST({est} AS DOUBLE),
       GREATEST(nn - {est}, 0)
FROM (SELECT count(o_orderkey) AS nn FROM orders)"""
    assert _UNIQUE_EXACT_BLOCK in SQL_EXPECT_ORDERS
    return SQL_EXPECT_ORDERS.replace(_UNIQUE_EXACT_BLOCK, approx_block)


def q_events_value_zscore(spark, sf_dir):
    """Per-group standardization (anomaly scoring): z = (x - mu_g)/sd_g
    with population std per event_type.  Plan note: a WINDOW over
    event_type would funnel the whole table through 5 partitions (one
    per group — the classic low-cardinality window skew); the
    scale-correct shape is a 5-row grouped aggregate joined back,
    which AQE broadcasts from its runtime size — fact side stays
    map-only."""
    ev = _events(spark, sf_dir)
    stats = (ev.groupBy("event_type")
             .agg(F.avg("value").alias("__mu"),
                  F.stddev_pop("value").alias("__sd")))
    joined = ev.join(stats, "event_type")
    return (joined.select(
        "event_id",
        F.round((F.col("value") - F.col("__mu")) / F.col("__sd"), 6)
        .alias("zscore")))


SQL_EVENTS_VALUE_ZSCORE = """
SELECT e.event_id,
       ROUND((e.value - s.mu) / s.sd, 6) AS zscore
FROM events e
JOIN (SELECT event_type, avg(value) AS mu, stddev_pop(value) AS sd
      FROM events GROUP BY event_type) s USING (event_type)
"""


def q_text_normalize(spark, sf_dir):
    """Canonical text normalization (text.TextNormalizer): lowercase →
    strip punctuation → collapse whitespace, all portable regex codegen
    — the step that upgrades exact dedup from byte-identity to
    normalized identity."""
    docs = _t(spark, sf_dir, "documents")
    out = tx.TextNormalizer(out_col="norm").transform(docs)
    return out.select("doc_id", "norm")


SQL_TEXT_NORMALIZE = r"""
SELECT doc_id,
       trim(regexp_replace(
           regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
           '\s+', ' ', 'g')) AS norm
FROM documents
"""


def q_text_stopwords(spark, sf_dir):
    """Stopword removal (text.StopwordRemover): literal-array filter
    HOF, map-only, duplicate-preserving (NOT a set op)."""
    docs = _t(spark, sf_dir, "documents")
    out = tx.StopwordRemover(out_col="cleaned").transform(docs)
    return out.select("doc_id", "cleaned")


def _sql_text_stopwords() -> str:
    sw = ", ".join(f"'{s}'" for s in tx.STOPWORDS)
    return f"""
SELECT doc_id,
       array_to_string(list_filter(string_split(text, ' '),
                                   t -> NOT list_contains([{sw}], t)),
                       ' ') AS cleaned
FROM documents
"""


SQL_TEXT_STOPWORDS = _sql_text_stopwords()


def q_profile_customer(spark, sf_dir):
    """Single-pass column profiler (profiling.profile): every statistic
    for every column in ONE aggregate over ONE scan, unpivoted from the
    1-row wide result.  exact=True for DuckDB parity (the approx HLL++
    tier is the 100 TB default)."""
    from .profiling import profile
    cu = _t(spark, sf_dir, "customer")
    return profile(cu, ["c_custkey", "c_acctbal", "c_mktsegment"],
                   exact=True)


def _sql_profile_customer() -> str:
    num = ("SELECT '{c}' AS col_name, count(*) AS n_rows, "
           "count({c}) AS n_nonnull, count(DISTINCT {c}) AS n_distinct, "
           "CAST(min({c}) AS DOUBLE) AS min_num, "
           "CAST(max({c}) AS DOUBLE) AS max_num, avg({c}) AS mean_num, "
           "CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str "
           "FROM customer")
    s = ("SELECT '{c}' AS col_name, count(*) AS n_rows, "
         "count({c}) AS n_nonnull, count(DISTINCT {c}) AS n_distinct, "
         "CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num, "
         "CAST(NULL AS DOUBLE) AS mean_num, "
         "min({c}) AS min_str, max({c}) AS max_str FROM customer")
    return " UNION ALL ".join([num.format(c="c_custkey"),
                               num.format(c="c_acctbal"),
                               s.format(c="c_mktsegment")])


SQL_PROFILE_CUSTOMER = _sql_profile_customer()


def q_profile_customer_approx(spark, sf_dir):
    """profile_customer on the profiler's DEFAULT tier: distinct counts
    via HLL++ (fixed memory, no Expand) — the 100 TB path.  HLL
    register merges are layout-independent, so the estimates are a
    pure function of the value sets; the oracle replays them as
    literals after a 3-sigma check against exact counts."""
    from .profiling import profile

    cu = _t(spark, sf_dir, "customer")
    return profile(cu, ["c_custkey", "c_acctbal", "c_mktsegment"])


def _sql_profile_customer_approx(sf_dir: str) -> str:
    import os

    from .session import get_spark

    key = ("profile_hll", os.path.abspath(sf_dir))
    if key not in _SKETCH_FIT_CACHE:
        from .profiling import profile

        spark = get_spark()
        cu = _t(spark, sf_dir, "customer")
        est = {r["col_name"]: int(r["n_distinct"])
               for r in profile(
                   cu, ["c_custkey", "c_acctbal", "c_mktsegment"]
               ).collect()}
        import duckdb

        con = duckdb.connect()
        try:
            for c, e in est.items():
                exact = con.execute(
                    f"SELECT count(DISTINCT {c}) FROM "
                    f"'{sf_dir}/customer.parquet'").fetchone()[0]
                if abs(e - exact) > max(3 * 0.05 * exact, 2):
                    raise AssertionError(
                        f"{c}: HLL {e} vs exact {exact} out of band")
        finally:
            con.close()
        _SKETCH_FIT_CACHE[key] = est
    est = _SKETCH_FIT_CACHE[key]
    base = _sql_profile_customer()
    for c, e in est.items():
        base = base.replace(
            f"count(DISTINCT {c}) AS n_distinct",
            f"CAST({e} AS BIGINT) AS n_distinct")
    return base


def q_drift_orders(spark, sf_dir):
    """PSI drift report (profiling.psi_drift): has the price
    distribution / priority mix moved between the pre-1999 and
    post-1999 order snapshots?  Tiny per-side bin counts off one scan
    each; PSI terms quantized to 9 dp and decimal-summed."""
    from .profiling import psi_drift

    od = _t(spark, sf_dir, "orders")
    cut = F.lit("1999-01-01").cast("timestamp")
    return psi_drift(od.filter(F.col("o_orderdate") < cut),
                     od.filter(F.col("o_orderdate") >= cut),
                     num_cols=["o_totalprice"],
                     cat_cols=["o_orderpriority"])


SQL_DRIFT_ORDERS = """
WITH b AS (SELECT * FROM orders WHERE o_orderdate <  TIMESTAMP '1999-01-01'),
c AS (SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01'),
mm AS (SELECT min(CAST(o_totalprice AS DOUBLE)) AS lo,
              max(CAST(o_totalprice AS DOUBLE)) AS hi FROM b),
pb AS (SELECT LEAST(GREATEST(CAST(floor((o_totalprice - lo) / ((hi - lo) / 10))
                                  AS INT), 0), 9) AS bin, count(*) AS cp
       FROM b, mm WHERE o_totalprice IS NOT NULL GROUP BY 1),
qb AS (SELECT LEAST(GREATEST(CAST(floor((o_totalprice - lo) / ((hi - lo) / 10))
                                  AS INT), 0), 9) AS bin, count(*) AS cq
       FROM c, mm WHERE o_totalprice IS NOT NULL GROUP BY 1),
jn AS (SELECT coalesce(pb.bin, qb.bin) AS bin, cp, cq
       FROM pb FULL JOIN qb ON pb.bin = qb.bin),
tn AS (SELECT sum(coalesce(cp, 0)) AS tp, sum(coalesce(cq, 0)) AS tq,
              count(*) AS nb FROM jn),
num AS (
  SELECT 'o_totalprice' AS "column",
         ROUND(CAST(sum(CAST(round(
             ((coalesce(cp,0) + 0.5) / (tp + 0.5 * nb)
              - (coalesce(cq,0) + 0.5) / (tq + 0.5 * nb))
             * ln(((coalesce(cp,0) + 0.5) / (tp + 0.5 * nb))
                  / ((coalesce(cq,0) + 0.5) / (tq + 0.5 * nb))), 9)
             AS DECIMAL(18,9))) AS DOUBLE), 6) AS psi
  FROM jn, tn),
pc AS (SELECT CAST(o_orderpriority AS VARCHAR) AS bin, count(*) AS cp
       FROM b WHERE o_orderpriority IS NOT NULL GROUP BY 1),
qc AS (SELECT CAST(o_orderpriority AS VARCHAR) AS bin, count(*) AS cq
       FROM c WHERE o_orderpriority IS NOT NULL GROUP BY 1),
jc AS (SELECT coalesce(pc.bin, qc.bin) AS bin, cp, cq
       FROM pc FULL JOIN qc ON pc.bin = qc.bin),
tc AS (SELECT sum(coalesce(cp, 0)) AS tp, sum(coalesce(cq, 0)) AS tq,
              count(*) AS nb FROM jc),
cat AS (
  SELECT 'o_orderpriority' AS "column",
         ROUND(CAST(sum(CAST(round(
             ((coalesce(cp,0) + 0.5) / (tp + 0.5 * nb)
              - (coalesce(cq,0) + 0.5) / (tq + 0.5 * nb))
             * ln(((coalesce(cp,0) + 0.5) / (tp + 0.5 * nb))
                  / ((coalesce(cq,0) + 0.5) / (tq + 0.5 * nb))), 9)
             AS DECIMAL(18,9))) AS DOUBLE), 6) AS psi
  FROM jc, tc)
SELECT * FROM num UNION ALL SELECT * FROM cat
"""


def q_text_lm_score(spark, sf_dir):
    """Bigram LM quality scoring (text.NgramScorer): per-doc mean
    log-probability under the add-1-smoothed corpus bigram model — the
    perplexity-proxy filter.  Fit = two keyed shuffles; score = bigram
    explode + broadcast count joins + one doc-keyed re-agg.  The fit
    runs on EVERY call (VERDICT r12 #1: no cross-run fit memo)."""
    docs = _t(spark, sf_dir, "documents")
    scorer = tx.NgramScorer(k=1.0).fit(docs, "text")
    return scorer.score(docs, "doc_id", "text")


SQL_TEXT_LM_SCORE = r"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS t
  FROM documents),
uni AS (SELECT w, count(*) AS cu
        FROM (SELECT unnest(t) AS w FROM tok) GROUP BY w),
vv AS (SELECT count(*) AS v FROM uni),
bigf AS (
  SELECT doc_id, p['w1'] AS w1, p['w2'] AS w2
  FROM (SELECT doc_id,
               unnest(list_transform(generate_series(1, len(t) - 1),
                                     i -> {'w1': t[i], 'w2': t[i+1]})) AS p
        FROM tok WHERE len(t) >= 2)),
bc AS (SELECT w1, w2, count(*) AS cb FROM bigf GROUP BY w1, w2),
scored AS (
  SELECT b.doc_id,
         round(ln((coalesce(bc.cb, 0) + 1.0)
                  / (coalesce(u.cu, 0) + 1.0 * (SELECT v FROM vv))), 9) AS lp
  FROM bigf b
  LEFT JOIN uni u ON b.w1 = u.w
  LEFT JOIN bc ON b.w1 = bc.w1 AND b.w2 = bc.w2)
SELECT doc_id,
       ROUND(CAST(sum(CAST(lp AS DECIMAL(18,9))) AS DOUBLE) / count(*), 6)
         AS avg_logprob
FROM scored GROUP BY doc_id
"""


def q_curriculum_buckets(spark, sf_dir):
    """Perplexity-bucketed curriculum assignment (r7): score every
    document under the corpus bigram LM (text.NgramScorer — the
    perplexity proxy), then quartile-bin the scores with EXACT
    interpolated boundaries (operators.QuantileBinner, Spark's exact
    ``percentile``) — the prep step for easy-to-hard curriculum
    ordering / difficulty-stratified sampling of training data.  One
    composed lazy plan: LM fit (two keyed count shuffles) → score
    (bigram explode + broadcast count joins) → bin-boundary fit (one
    percentile aggregate) → map-only bin assignment.

    The scored frame is localCheckpoint-ed before the binner: its plan
    (bigram explode + count joins + re-agg) is the expensive part, and
    without the cut it would be recomputed twice — once for the
    boundary aggregate and once for the final output (VERDICT r7 #2
    measured the cost at sf1, when the fit took two aggregates: 6.97s
    vs text_lm_score's 3.14s).
    The checkpointed state is 2 narrow columns per doc — trivially
    executor-resident at any corpus scale."""
    from .operators.quantile_binner import QuantileBinner

    docs = _t(spark, sf_dir, "documents")
    # both fits run on EVERY call (VERDICT r12 #1: no cross-run memo)
    scored = tx.NgramScorer(k=1.0).fit(docs, "text") \
        .score(docs, "doc_id", "text") \
        .localCheckpoint(eager=True)
    qb = QuantileBinner(inputs=["avg_logprob"], outputs=["lm_bucket"],
                        n_bins=4).fit(scored)
    return (qb.transform(scored)
            .select("doc_id", "avg_logprob", "lm_bucket"))


_SQL_LM_SCORED_CTE = SQL_TEXT_LM_SCORE.strip().rstrip()

SQL_CURRICULUM_BUCKETS = rf"""
WITH lm AS ({_SQL_LM_SCORED_CTE}),
b AS (
  SELECT quantile_cont(avg_logprob, 0.25) AS q1,
         quantile_cont(avg_logprob, 0.50) AS q2,
         quantile_cont(avg_logprob, 0.75) AS q3
  FROM lm)
SELECT doc_id, avg_logprob,
       CAST((avg_logprob > q1)::INT + (avg_logprob > q2)::INT
            + (avg_logprob > q3)::INT AS INT) AS lm_bucket
FROM lm, b
"""


_BPE_MERGES = 12


def q_text_bpe_merges(spark, sf_dir):
    """Distributed BPE training (bpe.BpeTrainer): the learned merge
    table for 12 merges over the documents corpus.  One corpus shuffle
    for word frequencies; every merge round runs on the bounded vocab
    table.  The oracle replays an independent pure-Python BPE with the
    same (count DESC, pair ASC) tie-break — the distributed trainer
    must reproduce it rule-for-rule."""
    from .bpe import BpeTrainer

    docs = _t(spark, sf_dir, "documents")
    return BpeTrainer(n_merges=_BPE_MERGES).fit(docs, "text").merges_df(spark)


def _sql_bpe_merges(sf_dir):
    import duckdb

    from .bpe import reference_bpe

    texts = [r[0] for r in duckdb.connect().execute(
        f"SELECT text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()]
    merges, _ = reference_bpe(texts, _BPE_MERGES)

    def q(s):
        return "'" + s.replace("'", "''") + "'"

    vals = ", ".join(
        f"(CAST({i} AS INTEGER), {q(l)}, {q(r)}, {q(l + r)}, "
        f"CAST({c} AS BIGINT))"
        for i, (l, r, c) in enumerate(merges))
    return (f"SELECT * FROM (VALUES {vals}) "
            f"AS t(rank, lhs, rhs, merged, pair_freq)")


def q_text_bpe_tokens(spark, sf_dir):
    """BPE tokenization at corpus scale (bpe.BpeTokenizer.token_counts):
    top-20 subword tokens by frequency.  Merges apply to DISTINCT words
    only (the scale path — one word shuffle, no per-occurrence work);
    the oracle replays the reference tokenizer.  The trainer fit (12
    sequential merge rounds of bounded-vocab jobs) runs on EVERY call
    (VERDICT r12 #1: no cross-run fit memo)."""
    from .bpe import BpeTokenizer, BpeTrainer

    docs = _t(spark, sf_dir, "documents")
    trainer = BpeTrainer(n_merges=_BPE_MERGES).fit(docs, "text")
    counts = BpeTokenizer(trainer.merges_).token_counts(docs, "text")
    return counts.orderBy(F.desc("n"), F.asc("token")).limit(20)


def _sql_bpe_tokens(sf_dir):
    from collections import Counter

    import duckdb

    from .bpe import EOW, reference_bpe

    texts = [r[0] for r in duckdb.connect().execute(
        f"SELECT text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()]
    merges, wf = reference_bpe(texts, _BPE_MERGES)
    rules = [(l, r) for l, r, _ in merges]
    tok_counts = Counter()
    for w, f in wf.items():
        syms = list(w) + [EOW]
        for l, r in rules:  # sequential by rank == priority merging
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        for t in syms:
            tok_counts[t] += f
    top = sorted(tok_counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20]

    def q(s):
        return "'" + s.replace("'", "''") + "'"

    vals = ", ".join(f"({q(t)}, CAST({n} AS BIGINT))" for t, n in top)
    return f"SELECT * FROM (VALUES {vals}) AS t(token, n)"


def q_expect_orders(spark, sf_dir):
    """Data-quality expectation suite over orders: every aggregate-style
    check in ONE aggregate pass, plus one anti-join for the FK check
    (expectations.py).  The report frame is the query result."""
    from . import expectations as ex

    od = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    suite = ex.ExpectationSuite(checks=[
        ex.not_null("o_custkey"),
        ex.in_range("o_totalprice", 0, 400000, max_bad_frac=0.25),
        ex.in_set("o_orderstatus", ["F", "O"]),
        ex.matches("o_orderpriority", "^[1-5]-"),
        ex.unique("o_orderkey"),
        ex.row_count(1000, 1000000),
        ex.mean_between("o_totalprice", 200000, 300000),
        ex.fresh("o_orderdate", "2001-01-01"),
        ex.fk_in("o_custkey", cu, "c_custkey"),
    ], exact=True)
    return suite.report(od)


SQL_EXPECT_ORDERS = """
WITH n AS (SELECT count(*) AS n FROM orders)
SELECT 'not_null(o_custkey)' AS "check", 'o_custkey' AS "column",
       (b*1.0/n) <= 0.0 AS passed, ROUND(b*1.0/n, 6) AS observed,
       b AS n_bad
FROM (SELECT count(*) FILTER (o_custkey IS NULL) AS b FROM orders), n
UNION ALL
SELECT 'in_range(o_totalprice)', 'o_totalprice',
       (b*1.0/n) <= 0.25, ROUND(b*1.0/n, 6), b
FROM (SELECT count(*) FILTER (o_totalprice IS NOT NULL
        AND (o_totalprice < 0 OR o_totalprice > 400000)) AS b
      FROM orders), n
UNION ALL
SELECT 'in_set(o_orderstatus)', 'o_orderstatus',
       (b*1.0/n) <= 0.0, ROUND(b*1.0/n, 6), b
FROM (SELECT count(*) FILTER (o_orderstatus IS NOT NULL
        AND o_orderstatus NOT IN ('F','O')) AS b FROM orders), n
UNION ALL
SELECT 'matches(o_orderpriority)', 'o_orderpriority',
       (b*1.0/n) <= 0.0, ROUND(b*1.0/n, 6), b
FROM (SELECT count(*) FILTER (o_orderpriority IS NOT NULL
        AND NOT regexp_matches(o_orderpriority, '^[1-5]-')) AS b
      FROM orders), n
UNION ALL
SELECT 'unique(o_orderkey)', 'o_orderkey',
       (nn - d) <= 0, CAST(d AS DOUBLE), GREATEST(nn - d, 0)
FROM (SELECT count(DISTINCT o_orderkey) AS d, count(o_orderkey) AS nn
      FROM orders)
UNION ALL
SELECT 'row_count', NULL,
       n >= 1000 AND n <= 1000000, CAST(n AS DOUBLE), NULL
FROM n
UNION ALL
SELECT 'mean_between(o_totalprice)', 'o_totalprice',
       m >= 200000 AND m <= 300000, ROUND(m, 6), NULL
FROM (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
             / count(o_totalprice) AS m FROM orders)
UNION ALL
SELECT 'fresh(o_orderdate)', 'o_orderdate',
       mx >= TIMESTAMP '2001-01-01', ROUND(epoch(mx), 6), NULL
FROM (SELECT max(o_orderdate) AS mx FROM orders)
UNION ALL
SELECT 'fk_in(o_custkey)', 'o_custkey',
       (b*1.0/n) <= 0.0, ROUND(b*1.0/n, 6), b
FROM (SELECT count(*) FILTER (o_custkey IS NOT NULL AND o_custkey NOT IN
        (SELECT c_custkey FROM customer)) AS b FROM orders), n
"""


def q_mix_temperature(spark, sf_dir):
    """Temperature-weighted corpus mixing (new r6): thin the documents
    table to ~250 rows with per-source rates ∝ count^0.5 — the
    multilingual-LM mixture shape (up-sample small domains).  Rates come
    from one tiny grouped count; the apply side is the content-addressed
    md5 filter (map-only, partitioning-independent)."""
    from .sources import temperature_mixture

    docs = _t(spark, sf_dir, "documents")
    out = temperature_mixture(docs, "source", key="doc_id",
                              target_rows=250, alpha=0.5)
    return out.select("doc_id", "source")


# The oracle recomputes the rate table in SQL with the same operation
# order (pow → share → rate → round-9), so the CASE literals the Spark
# side folds in are bit-identical to the rates DuckDB derives.
SQL_MIX_TEMPERATURE = """
WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
w AS (SELECT source, n, pow(n::DOUBLE, 0.5) AS wt FROM c),
r AS (SELECT source,
             round(least(1.0, 250 * (wt / (SELECT sum(wt) FROM w)) / n), 9)
               AS rate
      FROM w)
SELECT doc_id, source
FROM documents JOIN r USING (source)
WHERE (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT) / 4294967296.0
      < rate
"""


def q_shard_stats(spark, sf_dir):
    """Deterministic shard assignment (new r6): md5-bucket documents
    into 8 training shards and report per-shard row/char totals — the
    balance check a shard writer runs before committing a layout."""
    from .sources import assign_shards

    docs = _t(spark, sf_dir, "documents")
    return (assign_shards(docs, key="doc_id", n_shards=8)
            .groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("sum_chars"))
            .orderBy("shard"))


SQL_SHARD_STATS = """
SELECT (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 8)::INTEGER
         AS shard,
       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY 1
ORDER BY shard
"""


def q_shard_layout(spark, sf_dir):
    """Within-shard reproducible shuffle order (new r6): the first 3
    documents of each of 8 shards in md5 rank order — the (shard,
    position) layout a deterministic shard writer sorts by.  One
    shuffle on the shard key (the writer's repartition), row_number
    state is a single counter per shard."""
    from .sources import assign_shards

    docs = _t(spark, sf_dir, "documents")
    out = assign_shards(docs, key="doc_id", n_shards=8,
                        position_col="position")
    return (out.filter(F.col("position") <= 3)
            .select("doc_id", "shard", "position"))


SQL_SHARD_LAYOUT = """
WITH s AS (
  SELECT doc_id,
         (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 8)::INTEGER
           AS shard
  FROM documents),
p AS (
  SELECT doc_id, shard,
         row_number() OVER (PARTITION BY shard
                            ORDER BY md5(doc_id::VARCHAR), doc_id)
           AS position
  FROM s)
SELECT doc_id, shard, position FROM p WHERE position <= 3
"""


def q_zorder_key_orders(spark, sf_dir):
    """Z-order clustering key (new r6): Morton-interleave of 8-bit
    fixed-width buckets of (o_custkey, o_totalprice) — the key
    ``write_zordered`` sorts by so BOTH columns get parquet row-group
    skipping.  Map-only integer bit math after one min/max aggregate."""
    from .sources import zorder_key

    od = _t(spark, sf_dir, "orders")
    return (zorder_key(od, ["o_custkey", "o_totalprice"], bits=8)
            .select("o_orderkey", "zkey"))


def _zorder_duck(bits: int, cols: list[str]) -> str:
    """The oracle's twin of sources.zorder_key: identical bucket formula
    and bit interleave, generated as plain SQL integer arithmetic."""
    k, top, width = len(cols), (1 << bits) - 1, float(1 << bits)
    st = ", ".join(
        f"min({c}::DOUBLE) AS mn{j}, max({c}::DOUBLE) AS mx{j}"
        for j, c in enumerate(cols))
    bk = ", ".join(
        f"CAST(least({top}, floor(({c}::DOUBLE - mn{j}) * {width} "
        f"/ (mx{j} - mn{j}))) AS BIGINT) AS b{j}"
        for j, c in enumerate(cols))
    terms = " | ".join(
        f"(((b{j} >> {i}) & 1) << {i * k + j})"
        for i in range(bits) for j in range(k))
    return st, bk, terms


_Z_ST, _Z_BK, _Z_TERMS = _zorder_duck(8, ["o_custkey", "o_totalprice"])

SQL_ZORDER_KEY_ORDERS = f"""
WITH st AS (SELECT {_Z_ST} FROM orders),
b AS (SELECT o_orderkey, {_Z_BK} FROM orders, st)
SELECT o_orderkey, {_Z_TERMS} AS zkey FROM b
"""


def q_corpus_curation(spark, sf_dir):
    """End-to-end training-corpus curation (new r6): quality scoring →
    language-ID gate → exact dedup (digest shuffle) → deterministic
    shard assignment, composed as ONE lazy Catalyst plan — the flagship
    shape of an LLM-data pipeline, where each stage's filter prunes the
    next stage's work and nothing materializes in between.  All stage
    math is the bit-identical twin of its standalone oracle query
    (text_quality, text_langid, dedup_exact, shard_stats)."""
    from .sources import assign_shards

    # spread first: quality + langid are map-stage CPU over every doc,
    # and the corpus file may carry fewer splits than cores (no-op at
    # real scale; the dedup shuffle later redistributes regardless)
    docs = dd.spread(_t(spark, sf_dir, "documents"))
    scored = tx.QualityScorer().transform(docs)
    lang = tx.LanguageIdentifier().transform(scored)
    kept = lang.filter((F.col("quality_score") >= 0.6)
                       & (F.col("pred_lang") == "en"))
    deduped = dd.ExactDeduplicator().transform(
        kept.select("doc_id", "text", "quality_score"))
    return (assign_shards(deduped, key="doc_id", n_shards=4)
            .select("doc_id", "shard", "quality_score"))


def _sql_corpus_curation() -> str:
    return f"""
WITH q AS ({_sql_text_quality()}),
l AS ({_sql_text_langid()}),
f AS (SELECT d.doc_id, d.text, q.quality_score
      FROM documents d JOIN q ON q.doc_id = d.doc_id
      JOIN l ON l.doc_id = d.doc_id
      WHERE q.quality_score >= 0.6 AND l.pred_lang = 'en'),
s AS (SELECT min(doc_id) AS doc_id FROM f GROUP BY text)
SELECT f.doc_id,
       (('0x' || substr(md5(f.doc_id::VARCHAR), 1, 8))::BIGINT % 4)::INTEGER
         AS shard,
       f.quality_score
FROM f JOIN s ON s.doc_id = f.doc_id
"""


# ==========================================================================
# ExactSubstr-style substring dedup + BM25 retrieval (round 6)
# ==========================================================================

_SUBSTR_K = 5

#: shared CTE chain: window sites -> corpus-frequency filter -> islands
#: -> maximal spans; the DuckDB replay of SubstringDeduplicator.spans().
_SQL_SUBSTR_SPANS = f"""
tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
pos AS (SELECT doc_id, unnest(range(1, len(ts)-{_SUBSTR_K}+2)) AS p, ts
        FROM tok),
grams AS (SELECT doc_id, p,
                 {_h60_duck(f"array_to_string(ts[p:p+{_SUBSTR_K}-1], ' ')")}
                   AS h
          FROM pos),
dup AS (SELECT h FROM grams GROUP BY h HAVING count(*) >= 2),
hits AS (SELECT doc_id, p FROM grams WHERE h IN (SELECT h FROM dup)),
isl AS (SELECT doc_id, p,
               CASE WHEN lag(p) OVER w IS NULL
                      OR p > lag(p) OVER w + {_SUBSTR_K}
                    THEN 1 ELSE 0 END AS nw
        FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
isl2 AS (SELECT doc_id, p,
                sum(nw) OVER (PARTITION BY doc_id ORDER BY p) AS island
         FROM isl),
spans AS (SELECT doc_id,
                 CAST(min(p) - 1 AS INTEGER) AS span_start,
                 CAST(max(p) - 1 + {_SUBSTR_K} AS INTEGER) AS span_end,
                 count(*) AS n_windows
          FROM isl2 GROUP BY doc_id, island)
"""


def q_dedup_substring(spark, sf_dir):
    """ExactSubstr repeated-span detection (dedup.SubstringDeduplicator,
    after Lee et al. 2022): maximal spans whose every k-token window
    occurs >= 2 times corpus-wide.  Never materializes pairs — ONE
    groupBy on a 60-bit gram digest + a digest semi-join, O(total
    tokens) at any corpus size."""
    docs = _t(spark, sf_dir, "documents")
    return dd.SubstringDeduplicator(k=_SUBSTR_K).spans(docs)


SQL_DEDUP_SUBSTRING = f"""
WITH {_SQL_SUBSTR_SPANS}
SELECT doc_id, span_start, span_end, n_windows FROM spans
"""


def q_dedup_substring_trim(spark, sf_dir):
    """The ExactSubstr REWRITE: every document with its duplicated
    spans cut out (codegen filter with an index lambda — no Python, no
    second text shuffle) plus the removed-token count."""
    docs = _t(spark, sf_dir, "documents")
    out = dd.SubstringDeduplicator(k=_SUBSTR_K).transform(docs)
    return out.select("doc_id", "text", "n_removed")


SQL_DEDUP_SUBSTRING_TRIM = f"""
WITH {_SQL_SUBSTR_SPANS},
toks AS (SELECT doc_id, unnest(ts) AS tok,
                unnest(range(1, len(ts)+1)) AS p
         FROM tok),
kept AS (SELECT t.doc_id, t.tok, t.p FROM toks t
         WHERE NOT EXISTS (SELECT 1 FROM spans s
                           WHERE s.doc_id = t.doc_id
                             AND t.p - 1 >= s.span_start
                             AND t.p - 1 < s.span_end)),
agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id)
SELECT d.doc_id, coalesce(a.text, '') AS text,
       CAST(len(string_split(d.text, ' ')) - coalesce(a.n_kept, 0)
            AS INTEGER) AS n_removed
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


_BM25_TERMS = ("spark", "join", "window")


def q_text_bm25_topk(spark, sf_dir):
    """Okapi BM25 top-20 (text.BM25Retriever) for a literal 3-term
    query: one corpus scan in whole-stage codegen (per-term tf via
    array filter, no explode), corpus stats as a 1-row broadcast,
    top-k as a TakeOrderedAndProject heap."""
    docs = _t(spark, sf_dir, "documents")
    return tx.BM25Retriever(list(_BM25_TERMS)).topk(docs, 20)


def _sql_text_bm25_topk():
    tf = {t: f"len(list_filter(ts, x -> x = '{t}'))::DOUBLE"
          for t in _BM25_TERMS}
    dfs = ", ".join(
        f"sum((tf{i} > 0)::INT)::DOUBLE AS df{i}"
        for i in range(len(_BM25_TERMS)))
    parts = []
    for i in range(len(_BM25_TERMS)):
        parts.append(
            f"(ln(1.0 + (n - df{i} + 0.5) / (df{i} + 0.5)) * tf{i} * 2.2"
            f" / (tf{i} + 1.2 * (0.25 + 0.75 * dl / avgdl)))")
    total = " + ".join(parts)
    tfs = ", ".join(f"{e} AS tf{i}" for i, (_t_, e) in
                    enumerate(tf.items()))
    return f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents
             WHERE text IS NOT NULL),
base AS (SELECT doc_id, len(ts)::DOUBLE AS dl, {tfs} FROM tok),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl, {dfs} FROM base),
scored AS (SELECT doc_id, ROUND({total}, 6) AS score FROM base, stats)
SELECT doc_id, score FROM scored WHERE score > 0
ORDER BY score DESC, doc_id ASC LIMIT 20
"""


def q_sim_ann_ivf_append(spark, sf_dir):
    """Incremental IVF index maintenance (similarity.IVFIndex.append_write):
    fit on 80% of the corpus, persist, APPEND the held-out 20% into the
    ``__list``-partitioned layout (assign-only — no retrain, no corpus
    rescan, writes touch only the batch's cells), reload, and search a
    query that itself arrived in the appended batch.  Completes the
    incremental-maintenance family (exact-digest, MinHash-band, rollup
    — now ANN).  The fit-time checkpoint is released once written."""
    import os

    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    idx = sim.IVFIndex(k=5, n_lists=8, n_probe=2).fit(corpus)
    path = os.path.join(_ivf_scratch_dir(), "append_idx")
    idx.write(path)               # overwrite: idempotent across runs
    idx.append_write(batch, path)
    idx.release()
    return sim.IVFIndex.read(spark, path).search(query_id=0)


def _sql_sim_ann_ivf_append(sf_dir: str = "/root/testdata/sf0.01") -> str | None:
    """Generated oracle: replay the trainer on the CORPUS SUBSET only
    (vec_id % 5 <> 0 — appended vectors never influence the fitted
    cells), then assign ALL vectors against those centroids and probe
    the query's cells — exactly what fit + append_write + read
    produces."""
    import os

    path = f"{sf_dir}/embeddings.parquet"
    if not os.path.exists(path):
        return None
    import duckdb

    con = duckdb.connect()
    rows = con.sql(
        f"SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v "
        f"FROM '{path}' WHERE vec_id % 5 <> 0 ORDER BY vec_id").fetchall()
    # replicate the fit's bounded sample: cheap_row_count on the
    # FILTERED corpus frame still reads the parquet-footer total (an
    # upper bound — filters are not visible to footers), so the
    # modulus derives from the WHOLE table's count even though only
    # corpus rows are candidates
    import hashlib

    n_total = con.sql(f"SELECT count(*) FROM '{path}'").fetchone()[0]
    if n_total > 65536:
        mod = -(-n_total // 65536)
        rows = [r for r in rows if int(hashlib.md5(
            str(int(r[0])).encode()).hexdigest()[:8], 16) % mod == 0]
    vecs = [r[1] for r in rows]
    cents = sim.train_centroids(vecs, n_lists=8)
    q_int = con.sql(
        f"SELECT list_transform(embedding, x -> "
        f"CAST(round(x::DOUBLE * 1000) AS BIGINT)) FROM '{path}' "
        f"WHERE vec_id = 0").fetchone()[0]
    con.close()
    probe = sim.probe_cells([int(x) for x in q_int], cents, n_probe=2)
    cent_lits = ", ".join(
        "[" + ", ".join(str(c) for c in cj) + "]" for cj in cents)
    in_list = ", ".join(str(p) for p in probe)
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS q
  FROM embeddings),
n AS (
  SELECT vec_id, q,
         sqrt(CAST(list_sum(list_transform(q, x -> x*x)) AS DOUBLE)) AS nrm,
         list_transform([{cent_lits}], c ->
             list_sum(list_transform(generate_series(1, 64),
                 i -> (q[i]-c[i])*(q[i]-c[i])))) AS d
  FROM q),
a AS (SELECT vec_id, q, nrm, list_position(d, list_min(d)) - 1 AS lst FROM n)
SELECT a.vec_id,
       ROUND(CAST(list_sum(list_transform(generate_series(1, 64),
                i -> a.q[i] * b.q[i])) AS DOUBLE) / (a.nrm * b.nrm), 6) AS cosine
FROM a, (SELECT q, nrm FROM a WHERE vec_id = 0) b
WHERE a.vec_id <> 0 AND a.lst IN ({in_list})
ORDER BY cosine DESC, a.vec_id ASC
LIMIT 5
"""


_UNIGRAM_PARAMS = dict(vocab_size=80, seed_size=300, max_piece_len=4,
                       n_iters=2)


def q_text_unigram_tokens(spark, sf_dir):
    """Unigram-LM subword tokenization at corpus scale
    (unigram.UnigramTrainer + UnigramTokenizer, Kudo 2018): top-20
    subword tokens by frequency.  Segmentation runs on DISTINCT words
    only (one corpus shuffle); the Viterbi DP is a single codegen
    aggregate per word with quantized-integer scores, so the
    independent pure-Python oracle replays it bit-for-bit."""
    from .unigram import UnigramTokenizer, UnigramTrainer

    docs = _t(spark, sf_dir, "documents")
    # fit runs on EVERY call (VERDICT r12 #1: no cross-run fit memo)
    tr = UnigramTrainer(**_UNIGRAM_PARAMS).fit(docs, "text")
    counts = UnigramTokenizer(
        tr.scores_, _UNIGRAM_PARAMS["max_piece_len"]).token_counts(
        docs, "text")
    return counts.orderBy(F.desc("n"), F.asc("token")).limit(20)


def q_text_unigram_vocab(spark, sf_dir):
    """The fitted unigram vocabulary itself: top-20 pieces by final
    EM count — the tokenizer's model card."""
    from .unigram import UnigramTrainer

    docs = _t(spark, sf_dir, "documents")
    tr = UnigramTrainer(**_UNIGRAM_PARAMS).fit(docs, "text")
    items = sorted(tr.counts_.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    rows = [(p, int(c)) for p, c in items]
    return (docs.sparkSession.createDataFrame(rows, "piece string, cnt long")
            .orderBy(F.desc("cnt"), F.asc("piece")))


def _sql_quoted(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _unigram_reference(sf_dir):
    import duckdb

    from .unigram import reference_unigram

    texts = [r[0] for r in duckdb.connect().execute(
        f"SELECT text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()]
    return reference_unigram(texts, **_UNIGRAM_PARAMS)


def _sql_text_unigram_tokens(sf_dir):
    _final, toks = _unigram_reference(sf_dir)
    top = sorted(toks.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    vals = ", ".join(f"({_sql_quoted(t)}, CAST({n} AS BIGINT))"
                     for t, n in top)
    return (f"SELECT * FROM (VALUES {vals}) AS t(token, n) "
            f"ORDER BY n DESC, token ASC")


def _sql_text_unigram_vocab(sf_dir):
    final, _toks = _unigram_reference(sf_dir)
    top = sorted(final.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    vals = ", ".join(f"({_sql_quoted(p)}, CAST({c} AS BIGINT))"
                     for p, c in top)
    return (f"SELECT * FROM (VALUES {vals}) AS t(piece, cnt) "
            f"ORDER BY cnt DESC, piece ASC")


_CMS_PROBES = (1, 2, 3, 5, 8)


def q_cms_user_counts(spark, sf_dir):
    """Count-Min Sketch heavy-hitter estimates (sketches.CountMinSketch,
    Cormode & Muthukrishnan 2005) vs true counts for a literal probe
    set.  The sketch is COMPOSED relational algebra over md5 hashes —
    the DuckDB oracle re-derives the whole sketch from scratch,
    collisions included (no fitted-literal replay): build = one groupBy
    into <= depth*width rows, estimate never rescans the data."""
    from . import sketches as sk

    ev = _t(spark, sf_dir, "events")
    cms = sk.CountMinSketch(depth=4, width=512)
    est = cms.estimate(cms.build(ev, "user_id"), list(_CMS_PROBES))
    probes = list(_CMS_PROBES)
    true = (ev.filter(F.col("user_id").isin(probes))
            .groupBy(F.col("user_id").alias("key"))
            .agg(F.count(F.lit(1)).alias("true_cnt")))
    return (est.join(true, "key", "left")
            .select(F.col("key").cast("long").alias("key"),
                    F.col("est"),
                    F.coalesce("true_cnt", F.lit(0)).alias("true_cnt")))


def _sql_cms_cell(key: str) -> str:
    return (f"(('0x' || substr(md5(i::VARCHAR || ':' || {key}::VARCHAR),"
            f" 1, 8))::BIGINT % 512)")


SQL_CMS_USER_COUNTS = f"""
WITH pairs AS (
  SELECT i, {_sql_cms_cell('user_id')} AS c
  FROM events, range(4) t(i) WHERE user_id IS NOT NULL),
sketch AS (SELECT i, c, count(*) AS cnt FROM pairs GROUP BY i, c),
probes AS (SELECT CAST(unnest([{', '.join(map(str, _CMS_PROBES))}])
                       AS BIGINT) AS key),
pcell AS (SELECT key, i, {_sql_cms_cell('key')} AS c
          FROM probes, range(4) t(i)),
est AS (SELECT key, min(coalesce(cnt, 0)) AS est
        FROM pcell LEFT JOIN sketch USING (i, c) GROUP BY key),
tru AS (SELECT user_id AS key, count(*) AS true_cnt FROM events
        WHERE user_id IN ({', '.join(map(str, _CMS_PROBES))})
        GROUP BY user_id)
SELECT e.key, e.est, coalesce(t.true_cnt, 0) AS true_cnt
FROM est e LEFT JOIN tru t USING (key)
"""


def q_join_bloom_prune(spark, sf_dir):
    """Bloom-pruned fact⋈dim join (relational.bloom_prune_join): a
    1 KB literal bloom fitted on the filtered dim keys drops
    non-matching orders INSIDE the scan stage, before the shuffle; the
    exact join then removes the bloom's false positives, so the result
    — and the oracle — is the plain join.  The explicit twin of
    Spark's runtime row-level bloom join."""
    from .relational import bloom_prune_join

    od = _t(spark, sf_dir, "orders")
    cust = (_t(spark, sf_dir, "customer")
            .filter(F.col("c_mktsegment") == "BUILDING")
            .select(F.col("c_custkey").alias("o_custkey")))
    j = bloom_prune_join(od, cust, on="o_custkey")
    return (j.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                 .cast("double").alias("total_price")))


SQL_JOIN_BLOOM_PRUNE = """
SELECT o_orderpriority, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderpriority
"""


EXT_QUERIES = {
    "text_unigram_tokens": (q_text_unigram_tokens,
                            _sql_text_unigram_tokens),
    "text_unigram_vocab": (q_text_unigram_vocab, _sql_text_unigram_vocab),
    "sim_ann_ivf_append": (q_sim_ann_ivf_append, _sql_sim_ann_ivf_append),
    "cms_user_counts": (q_cms_user_counts, SQL_CMS_USER_COUNTS),
    "join_bloom_prune": (q_join_bloom_prune, SQL_JOIN_BLOOM_PRUNE),
    "dedup_substring": (q_dedup_substring, SQL_DEDUP_SUBSTRING),
    "dedup_substring_trim": (q_dedup_substring_trim,
                             SQL_DEDUP_SUBSTRING_TRIM),
    "text_bm25_topk": (q_text_bm25_topk, _sql_text_bm25_topk()),
    "mix_temperature": (q_mix_temperature, SQL_MIX_TEMPERATURE),
    "zorder_key_orders": (q_zorder_key_orders, SQL_ZORDER_KEY_ORDERS),
    "corpus_curation": (q_corpus_curation, _sql_corpus_curation()),
    "shard_stats": (q_shard_stats, SQL_SHARD_STATS),
    "shard_layout": (q_shard_layout, SQL_SHARD_LAYOUT),
    "expect_orders": (q_expect_orders, SQL_EXPECT_ORDERS),
    "text_lm_score": (q_text_lm_score, SQL_TEXT_LM_SCORE),
    "curriculum_buckets": (q_curriculum_buckets, SQL_CURRICULUM_BUCKETS),
    "drift_orders": (q_drift_orders, SQL_DRIFT_ORDERS),
    "text_bpe_merges": (q_text_bpe_merges, _sql_bpe_merges),
    "text_bpe_tokens": (q_text_bpe_tokens, _sql_bpe_tokens),
    "join_salted": (q_join_salted, SQL_JOIN_SALTED),
    "join_salted_auto": (q_join_salted_auto, SQL_JOIN_SALTED),
    "filter_blocklist": (q_filter_blocklist, SQL_FILTER_BLOCKLIST),
    "topk_per_segment": (q_topk_per_segment, SQL_TOPK_PER_SEGMENT),
    "profile_customer": (q_profile_customer, SQL_PROFILE_CUSTOMER),
    "clip_outliers": (q_clip_outliers, SQL_CLIP_OUTLIERS),
    "clip_outliers_approx": (q_clip_outliers_approx,
                             _sql_clip_outliers_approx),
    "scaler_robust_approx": (q_scaler_robust_approx,
                             _sql_scaler_robust_approx),
    "expect_orders_hll": (q_expect_orders_hll, _sql_expect_orders_hll),
    "layout_pruned_scan": (q_layout_pruned_scan, SQL_LAYOUT_PRUNED_SCAN),
    "pivot_event_counts": (q_pivot_event_counts, SQL_PIVOT_EVENT_COUNTS),
    "melt_measures": (q_melt_measures, SQL_MELT_MEASURES),
    "merge_latest": (q_merge_latest, SQL_MERGE_LATEST),
    "embed_label_centroid": (q_embed_label_centroid, SQL_EMBED_LABEL_CENTROID),
    "kfold_counts": (q_kfold_counts, SQL_KFOLD_COUNTS),
    "funnel_signup_purchase": (q_funnel_signup_purchase, SQL_FUNNEL),
    "cohort_retention": (q_cohort_retention, SQL_COHORT_RETENTION),
    "hist_order_price": (q_hist_order_price, SQL_HIST_ORDER_PRICE),
    "corr_lineitem": (q_corr_lineitem, SQL_CORR_LINEITEM),
    "target_encode": (q_target_encode, SQL_TARGET_ENCODE),
    "target_encode_cv": (q_target_encode_cv, SQL_TARGET_ENCODE_CV),
    "event_transitions": (q_event_transitions, SQL_EVENT_TRANSITIONS),
    "snapshot_diff": (q_snapshot_diff, SQL_SNAPSHOT_DIFF),
    "graph_pagerank": (q_graph_pagerank, SQL_GRAPH_PAGERANK),
    "events_trending": (q_events_trending, SQL_EVENTS_TRENDING),
    "range_join_bands": (q_range_join_bands, SQL_RANGE_JOIN_BANDS),
    "record_linkage": (q_record_linkage, SQL_RECORD_LINKAGE),
    "dedup_minhash_incremental": (q_dedup_minhash_incremental,
                                  _sql_minhash_incremental()),
    "quality_by_source": (q_quality_by_source, _sql_quality_by_source()),
    "events_value_zscore": (q_events_value_zscore, SQL_EVENTS_VALUE_ZSCORE),
    "text_stopwords": (q_text_stopwords, SQL_TEXT_STOPWORDS),
    "text_normalize": (q_text_normalize, SQL_TEXT_NORMALIZE),
    "hash_encode": (q_hash_encode, SQL_HASH_ENCODE),
    "scaler_robust": (q_scaler_robust, SQL_SCALER_ROBUST),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, SQL_DEDUP_NGRAM_JACCARD),
    "dedup_ngram_capped": (q_dedup_ngram_capped, SQL_DEDUP_NGRAM_CAPPED),
    "dedup_segments": (q_dedup_segments, SQL_DEDUP_SEGMENTS),
    "dedup_minhash_pairs": (q_dedup_minhash_pairs, _sql_minhash()),
    "dedup_clusters": (q_dedup_clusters, _sql_dedup_clusters()),
    "dedup_keep_canonical": (q_dedup_keep_canonical,
                             _sql_dedup_keep_canonical()),
    "dedup_simhash": (q_dedup_simhash, SQL_DEDUP_SIMHASH),
    "dedup_simhash_pairs": (q_dedup_simhash_pairs, _sql_simhash_pairs()),
    "dedup_simhash_capped": (q_dedup_simhash_capped, _sql_simhash_capped()),
    "dedup_semantic": (q_dedup_semantic, _sql_dedup_semantic),
    "decontaminate_semantic": (q_decontaminate_semantic,
                               _sql_decontaminate_semantic),
    "cluster_embeddings": (q_cluster_embeddings, _sql_cluster_embeddings),
    "dedup_embedding_cosine": (q_dedup_embedding_cosine, _sql_embedding_cosine()),
    "dedup_embedding_auto": (q_dedup_embedding_auto, _sql_embedding_cosine_auto),
    "sim_topk_cosine": (q_sim_topk_cosine, SQL_SIM_TOPK),
    "sim_ann_lsh": (q_sim_ann_lsh, _sql_sim_ann()),
    # data-dependent generated oracle: registered as the *generator* so
    # package import stays side-effect-free (no duckdb import, no parquet
    # read, no k-means at import time) and so check_oracle/bench can
    # regenerate it at whatever sf_dir they actually run — the resolver
    # is __spark_entry__.oracle_sql(sf_dir).
    "sim_ann_ivf": (q_sim_ann_ivf, _sql_sim_ann_ivf),
    "sim_ann_ivf_persisted": (q_sim_ann_ivf_persisted, _sql_sim_ann_ivf),
    "sim_ann_ivf_batch": (q_sim_ann_ivf_batch, _sql_sim_ann_ivf_batch),
    "sim_ann_annotate": (q_sim_ann_annotate, _sql_sim_ann_annotate),
    "events_ann_annotate": (q_events_ann_annotate, _sql_events_ann_annotate),
    "sim_ann_pq": (q_sim_ann_pq, _sql_sim_ann_pq),
    "sim_ann_pq_rerank": (q_sim_ann_pq_rerank, _sql_sim_ann_pq_rerank),
    # persisted PQ shares the in-session oracle: reload must be
    # bit-identical to the fitted index (codes round-trip via parquet)
    "sim_ann_pq_persisted": (q_sim_ann_pq_persisted, _sql_sim_ann_pq),
    "sim_ann_ivfpq": (q_sim_ann_ivfpq, _sql_sim_ann_ivfpq),
    "sim_ann_ivfpq_persisted": (q_sim_ann_ivfpq_persisted,
                                _sql_sim_ann_ivfpq),
    "embed_normalize": (q_embed_normalize, SQL_EMBED_NORMALIZE),
    "embed_project": (q_embed_project, _sql_embed_project()),
    "text_token_count": (q_text_token_count, SQL_TEXT_TOKEN_COUNT),
    "text_quality": (q_text_quality, _sql_text_quality()),
    "text_langid": (q_text_langid, _sql_text_langid()),
    "text_fingerprint": (q_text_fingerprint, SQL_TEXT_FINGERPRINT),
    "text_redact": (q_text_redact, _sql_text_redact()),
    "text_term_freq": (q_text_term_freq, SQL_TEXT_TERM_FREQ),
    "text_repetition": (q_text_repetition, SQL_TEXT_REPETITION),
    "text_contamination": (q_text_contamination, SQL_TEXT_CONTAMINATION),
    "text_chunk": (q_text_chunk, SQL_TEXT_CHUNK),
    "text_pack": (q_text_pack, SQL_TEXT_PACK),
    "sample_weighted": (q_sample_weighted, SQL_SAMPLE_WEIGHTED),
    "sample_fixed_k": (q_sample_fixed_k, SQL_SAMPLE_FIXED_K),
    "multimodal_meta": (q_multimodal_meta, SQL_MULTIMODAL_META),
    "multimodal_decode": (q_multimodal_decode, SQL_MULTIMODAL_DECODE),
    "multimodal_gif_roundtrip": (q_multimodal_gif_roundtrip,
                                 SQL_MULTIMODAL_GIF_ROUNDTRIP),
    "multimodal_gif_frames": (q_multimodal_gif_frames,
                              SQL_MULTIMODAL_GIF_FRAMES),
    "scd2_user_state": (q_scd2_user_state, SQL_SCD2_USER_STATE),
    "woe_encode": (q_woe_encode, SQL_WOE_ENCODE),
    "text_clf_score": (q_text_clf_score, _sql_text_clf_score),
    "profile_customer_approx": (q_profile_customer_approx,
                                _sql_profile_customer_approx),
    "rollup_incremental": (q_rollup_incremental, SQL_ROLLUP_INCREMENTAL),
    "resample_user_daily": (q_resample_user_daily, SQL_RESAMPLE_USER_DAILY),
    "agg_group_median_approx": (q_agg_group_median_approx,
                                _sql_agg_group_median_approx),
    "agg_group_nunique_approx": (q_agg_group_nunique_approx,
                                 _sql_agg_group_nunique_approx),
    "events_hourly_agg": (q_events_hourly_agg, SQL_EVENTS_HOURLY),
    "asof_last_purchase": (q_asof_last_purchase, SQL_ASOF_LAST_PURCHASE),
    "asof_next_purchase": (q_asof_next_purchase, SQL_ASOF_NEXT_PURCHASE),
    "asof_nearest_purchase": (q_asof_nearest_purchase,
                              SQL_ASOF_NEAREST_PURCHASE),
    "events_rolling_30m": (q_events_rolling_30m, SQL_EVENTS_ROLLING_30M),
    "sessionize": (q_sessionize, SQL_SESSIONIZE),
    "session_stats": (q_session_stats, SQL_SESSION_STATS),
    "events_latest": (q_events_latest, SQL_EVENTS_LATEST),
    "events_click_attribution": (q_events_click_attribution,
                                 SQL_EVENTS_CLICK_ATTRIBUTION),
    "events_user_totals": (q_events_user_totals, SQL_EVENTS_USER_TOTALS),
    "events_dedup": (q_events_dedup, SQL_EVENTS_DEDUP),
    "join_left_enrich": (q_join_left_enrich, SQL_JOIN_LEFT_ENRICH),
    "split_train": (q_split_train, SQL_SPLIT_TRAIN),
    "split_group": (q_split_group, SQL_SPLIT_GROUP),
    "quantile_bin": (q_quantile_bin, SQL_QUANTILE_BIN),
    "dedup_incremental": (q_dedup_incremental, SQL_DEDUP_INCREMENTAL),
    "text_tfidf": (q_text_tfidf, SQL_TEXT_TFIDF),
    "sample_cap_domain": (q_sample_cap_domain, SQL_SAMPLE_CAP_DOMAIN),
    "tpch_pricing_summary": (q_tpch_pricing_summary, SQL_TPCH_PRICING),
    "top_revenue_orders": (q_top_revenue_orders, SQL_TOP_REVENUE_ORDERS),
    "revenue_by_nation": (q_revenue_by_nation, SQL_REVENUE_BY_NATION),
    "events_json_props": (q_events_json_props, SQL_EVENTS_JSON_PROPS),
    "revenue_rollup": (q_revenue_rollup, SQL_REVENUE_ROLLUP),
    "revenue_cube": (q_revenue_cube, SQL_REVENUE_CUBE),
    "revenue_grouping_sets": (q_revenue_grouping_sets,
                              SQL_REVENUE_GROUPING_SETS),
    "docs_dedup_stream": (q_docs_dedup_stream, SQL_DOCS_DEDUP_STREAM),
}

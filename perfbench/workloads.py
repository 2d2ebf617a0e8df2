"""The three benchmark workloads, driven through the package's public API.

Each workload has ``load`` (read the generated parquet), ``setup``
(fitted state that a deployment builds once), ``op`` (one timed unit of
work: a training pass, a 1-row request, or a curation pass) and
``check`` (untimed correctness gate).  ``op`` returns the named phase
timings and the seconds the unit took.
"""

from __future__ import annotations

import hashlib
import importlib
import math
import os
import random
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from probes import noop_sink


@dataclass
class Context:
    spark: object
    data_dir: str
    work_dir: str
    seed: int
    counters: object
    tracer: object
    traced: bool


# The reference pipelines of examples/, each on its own table and split
# 3:1 on the table key.  fraud_detection is trained in traced runs only:
# one warm pass of it takes 11-15 s, so an untraced run of about a minute
# could time a single pass, and one pass per run is too noisy to gate.
TRAIN_PIPELINES = (
    ("insurance", "orders", "o_orderkey"),
    ("mental_health", "customer", "c_custkey"),
    ("categorical_encoding", "part", "p_partkey"),
)
TRACED_PIPELINES = (("fraud_detection", "lineitem", "l_orderkey"),)

#: operator classes whose public fit/transform are traced
OPERATOR_CLASSES = (
    "Aggregator", "ColumnSelector", "ComplementLabelEncoder",
    "DateTransformer", "FrequencyEncoder", "FunctionTransformer",
    "Imputer", "MapTransformer", "OneHotEncoder", "RangeTransformer",
    "RowTransformer", "Scaler", "StringConcatenator", "StringSplitter",
    "WOEEncoder",
)


def layer_targets(tracer):
    """(owner, attribute, span name, result hook) for every public call
    the traced run wraps, keyed by the package's module layout."""
    import dataframe_pipeline_spark as dfp
    from dataframe_pipeline_spark import (dedup, lambda_compiler, persistence,
                                          serving, sources, text)

    targets = [
        (dfp.DataframePipeline, "fit_transform", "pipeline.fit_transform", None),
        (dfp.DataframePipeline, "transform", "pipeline.transform", None),
        (persistence, "save_pipeline", "persistence.save", None),
        (persistence, "load_pipeline", "persistence.load", None),
        (lambda_compiler, "compile_lambda", "lambda_compiler.compile",
         lambda col: tracer.count("lambda_compiler.native", col is not None)),
        (serving, "serve_rows", "serving.serve_rows", None),
        (serving, "local_rows_df", "serving.render", None),
        (serving, "serving_transform", "serving.plan", None),
        (text.QualityScorer, "transform", "text.QualityScorer.transform", None),
        (text.LanguageIdentifier, "transform",
         "text.LanguageIdentifier.transform", None),
        (text.TokenCounter, "transform", "text.TokenCounter.transform", None),
        (dedup.ExactDeduplicator, "transform",
         "dedup.ExactDeduplicator.transform", None),
        (dedup.MinHashLSHDeduplicator, "pairs",
         "dedup.MinHashLSHDeduplicator.pairs", None),
        (dedup, "keep_canonical", "dedup.keep_canonical", None),
        (dedup, "connected_components", "dedup.connected_components", None),
        (dedup.SemanticDeduplicator, "fit", "dedup.SemanticDeduplicator.fit",
         None),
        (dedup.SemanticDeduplicator, "dedup",
         "dedup.SemanticDeduplicator.dedup", None),
        (sources, "split_mod", "sources.split_mod", None),
        (sources, "assign_shards", "sources.assign_shards", None),
    ]
    for name in OPERATOR_CLASSES:
        cls = getattr(dfp, name)
        targets.append((cls, "fit", f"operators.{name}.fit", None))
        targets.append((cls, "transform", f"operators.{name}.transform", None))
    return targets


def frame_digest(df) -> tuple:
    """(columns, rows, sum of xxhash64 over all columns).  Doubles are
    rounded to 6 places first: in-memory lookups are recomputed on every
    action, so float sums may differ from the saved copy in the last bit."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if f.dataType.typeName() in ("double", "float"):
            c = F.round(c, 6)
        cols.append(c)
    row = df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h")) \
        .agg(F.count("*").alias("n"), F.sum("h").alias("s")).head()
    return tuple(df.columns), row["n"], row["s"]


def table_rows(data_dir: str, table: str) -> int:
    """Row count of a generated table, read from its parquet footer so
    that recording input sizes launches no Spark job."""
    return pq.read_metadata(f"{data_dir}/{table}.parquet").num_rows


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class TrainPipeline:
    """Fit, persist, reload and score the reference pipelines, rebuilt
    from scratch on every pass."""

    name = "train_pipeline"
    sf = 0.001
    warmup_ops = 1
    cpu_block = 1

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.inputs = []
        self.fitted = {}
        # a traced pass includes fraud_detection and takes about 16 s
        self.min_ops = 1 if ctx.traced else 4

    def load(self) -> dict:
        from dataframe_pipeline_spark import sources

        spark, rows = self.ctx.spark, {}
        specs = TRAIN_PIPELINES + (TRACED_PIPELINES if self.ctx.traced else ())
        for name, table, key in specs:
            mod = importlib.import_module(name)
            df = spark.read.parquet(f"{self.ctx.data_dir}/{table}.parquet")
            rows[table] = table_rows(self.ctx.data_dir, table)
            if hasattr(mod, "prep"):
                df = mod.prep(df)
            train, test = sources.split_mod(df, key)
            self.inputs.append((name, mod, train, test))
        return rows

    def setup(self) -> None:
        pass

    def op(self, i: int):
        from dataframe_pipeline_spark import DataframePipeline

        ctx, c = self.ctx, self.ctx.counters
        fit_s = score_s = 0.0
        for name, mod, train, test in self.inputs:
            path = os.path.join(ctx.work_dir, "models", name)
            shutil.rmtree(path, ignore_errors=True)
            t0 = time.perf_counter()
            pipe = mod.build(train)
            with c.group("fit"):
                out = pipe.fit_transform(train)
            with c.group("sink"), ctx.tracer.span("exec.sink"):
                noop_sink(out)
            with c.group("save"):
                pipe.save(path)
            t1 = time.perf_counter()
            with c.group("load"):
                loaded = DataframePipeline.load(ctx.spark, path)
            with c.group("score"):
                scored = loaded.transform(test)
            with c.group("sink"), ctx.tracer.span("exec.sink"):
                noop_sink(scored)
            t2 = time.perf_counter()
            fit_s += t1 - t0
            score_s += t2 - t1
            if ctx.tracer.enabled:
                ctx.tracer.count("persistence.bytes", _dir_bytes(path))
            self.fitted[name] = (pipe, loaded, test)
        return ({"fit_transform_s": fit_s, "score_s": score_s},
                fit_s + score_s)

    def check(self) -> tuple[int, int, list[str]]:
        """The reloaded pipelines score the held-out split exactly as the
        in-memory fitted ones do."""
        frames = [(name, p.transform(test)) for name, (pipe, loaded, test)
                  in self.fitted.items() for p in (loaded, pipe)]
        # the check is untimed: its Spark jobs run side by side
        with ThreadPoolExecutor(max_workers=4) as pool:
            digests = list(pool.map(frame_digest, (df for _, df in frames)))
        bad = [f"{name}: reloaded score differs from in-memory"
               for (name, _), a, b in zip(frames[::2], digests[::2],
                                         digests[1::2]) if a != b]
        return len(self.fitted), len(bad), bad


class OnlineScoring:
    """Closed loop, one client: 1-row requests through ``serve_rows``
    against a pipeline fitted once at set-up."""

    name = "online_scoring"
    sf = 0.01
    # p95 needs at least ten samples beyond it
    min_ops = 200
    # request latency keeps falling over the first 100-300 requests
    warmup_ops = 200
    # /proc counts CPU time in 10 ms ticks, so it is read per 20 requests
    cpu_block = 20
    # every SAMPLE_EVERY-th response is checked against the batch path
    SAMPLE_EVERY = 10

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.responses = {}
        self.request_jobs = 0

    def load(self) -> dict:
        from dataframe_pipeline_spark import sources
        from dataframe_pipeline_spark.ext_queries import _events

        events = _events(self.ctx.spark, self.ctx.data_dir).withColumn(
            "is_purchase", (F.col("event_type") == "purchase").cast("int"))
        self.train, test = sources.split_mod(events, "event_id")
        held_out = test.collect()
        self.schema = test.schema
        rng = random.Random(self.ctx.seed)
        self.requests = [held_out[rng.randrange(len(held_out))]
                         for _ in range(20_000)]
        users = pq.read_table(f"{self.ctx.data_dir}/events.parquet",
                              columns=["user_id"])["user_id"]
        return {"events": table_rows(self.ctx.data_dir, "events"),
                "held_out": len(held_out),
                "users": pc.count_distinct(users).as_py()}

    def setup(self) -> None:
        import dataframe_pipeline_spark as dfp

        self.pipe = dfp.DataframePipeline(steps=[
            dfp.ComplementLabelEncoder(inputs=["event_type"],
                                       outputs=["type_id"]),
            dfp.Aggregator(inputs=["value"], outputs=["user_mean"],
                           groupby=["user_id"], func="mean"),
            dfp.FrequencyEncoder(inputs=["user_id"], outputs=["user_freq"]),
            dfp.Scaler(inputs=["value"], outputs=["value_mm"],
                       strategy="minmax"),
            dfp.WOEEncoder(inputs=["user_id"], outputs=["user_woe"],
                           target="is_purchase"),
            dfp.FunctionTransformer(inputs=["value"], outputs=["value_z"],
                                    func=lambda v: (v - 50.0) / 50.0),
        ])
        with self.ctx.counters.group("fit"):
            self.pipe.fit_transform(self.train)
        # the first serving call collects the fitted lookups into literal
        # maps (Spark jobs); every later request must be job-free
        from dataframe_pipeline_spark import serving

        with self.ctx.counters.group("compile"):
            serving.serve_rows(self.pipe, self.ctx.spark, [self.requests[-1]],
                               self.schema)

    def op(self, i: int):
        from dataframe_pipeline_spark import serving

        row = self.requests[i % len(self.requests)]
        counters = self.ctx.counters
        with counters.group("serve") as gid:
            t0 = time.perf_counter()
            out = serving.serve_rows(self.pipe, self.ctx.spark, [row],
                                     self.schema)
            dt = time.perf_counter() - t0
        self.request_jobs += counters.jobs_in(gid) > 0
        if i % self.SAMPLE_EVERY == 0:
            self.responses[i] = out[0]
        return {"serve_ms": dt * 1000}, dt

    def compiled_steps_ratio(self) -> float:
        from dataframe_pipeline_spark import serving
        from dataframe_pipeline_spark.base import SERVING_CACHE_ATTR

        steps = [s for s in self.pipe.steps
                 if type(s).__name__ in serving._SERVING_COMPILERS]
        built = [s for s in steps
                 if getattr(s, SERVING_CACHE_ATTR, None) not in (None, False)]
        return len(built) / len(steps)

    def check(self) -> tuple[int, int, list[str]]:
        """Each sampled response equals the batch transform of its row,
        and no request launched a Spark job."""
        spark, bad = self.ctx.spark, []
        idx = sorted(self.responses)
        rows = [self.requests[i % len(self.requests)] for i in idx]
        batch = {r["event_id"]: r.asDict() for r in self.pipe.transform(
            spark.createDataFrame(rows, self.schema)).collect()}
        for i in idx:
            got = self.responses[i].asDict()
            want = batch.get(got["event_id"])
            if want is None or not _rows_equal(got, want):
                bad.append(f"request {i}: served {got} != batch {want}")
        if self.request_jobs:
            bad.append(f"{self.request_jobs} requests launched Spark jobs")
        return len(idx) + 1, len(bad), bad


def _rows_equal(a: dict, b: dict) -> bool:
    if a.keys() != b.keys():
        return False
    for k, x in a.items():
        y = b[k]
        if isinstance(x, float) and isinstance(y, float):
            if not (math.isclose(x, y, rel_tol=1e-9)
                    or (math.isnan(x) and math.isnan(y))):
                return False
        elif x != y:
            return False
    return True


class CorpusCuration:
    """LLM-corpus curation legs over generated documents and embeddings,
    each leg with its own sink."""

    name = "corpus_curation"
    sf = 0.05
    min_ops = 1
    warmup_ops = 1
    cpu_block = 1
    ORACLE_QUERIES = ("corpus_curation", "dedup_minhash_pairs")

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.layer_counts = {}

    def load(self) -> dict:
        spark, d = self.ctx.spark, self.ctx.data_dir
        self.docs = spark.read.parquet(f"{d}/documents.parquet")
        self.emb = spark.read.parquet(f"{d}/embeddings.parquet")
        self.n_docs = table_rows(d, "documents")
        return {"documents": self.n_docs,
                "embeddings": table_rows(d, "embeddings")}

    def setup(self) -> None:
        pass

    @contextmanager
    def _leg(self, name: str, timings: dict):
        t0 = time.perf_counter()
        with self.ctx.counters.group(name), self.ctx.tracer.span(name):
            yield
        timings[name.split(".", 1)[1] + "_s"] = time.perf_counter() - t0

    def _sink(self, df) -> None:
        with self.ctx.tracer.span("exec.sink"):
            noop_sink(df)

    def _minhash(self):
        from dataframe_pipeline_spark import dedup

        return dedup.MinHashLSHDeduplicator(k=16, bands=2, threshold=0.9)

    def op(self, i: int):
        from dataframe_pipeline_spark import dedup, text
        from dataframe_pipeline_spark.ext_queries import q_corpus_curation

        t: dict = {}
        with self._leg("text.curate", t):
            self._sink(q_corpus_curation(self.ctx.spark, self.ctx.data_dir))
        with self._leg("dedup.minhash_pairs", t):
            pairs = self._minhash().pairs(self.docs)
            self._sink(pairs)
        with self._leg("dedup.keep_canonical", t):
            self._sink(dedup.keep_canonical(self.docs, pairs))
        with self._leg("text.token_count", t):
            self._sink(text.TokenCounter().transform(self.docs))
        with self._leg("dedup.semantic", t):
            sd = dedup.SemanticDeduplicator().fit(self.emb)
            self._sink(sd.dedup(self.emb))
        return t, sum(t.values())

    def check(self) -> tuple[int, int, list[str]]:
        """Curation and MinHash pair outputs hash-match the DuckDB oracle
        on the same generated data."""
        import duckdb

        import __spark_entry__
        from dataframe_pipeline_spark import dedup
        from dataframe_pipeline_spark.ext_queries import q_corpus_curation

        d = self.ctx.data_dir
        oracles = __spark_entry__.oracle_sql(d, names=list(self.ORACLE_QUERIES))
        pairs = self._minhash().pairs(self.docs)
        got = {"corpus_curation": q_corpus_curation(self.ctx.spark, d),
               "dedup_minhash_pairs": pairs}
        bad = []
        with duckdb.connect() as con:
            con.sql("SET threads = 2")
            con.sql(f"CREATE VIEW documents AS SELECT * FROM "
                    f"'{d}/documents.parquet'")
            for name in self.ORACLE_QUERIES:
                g = got[name].toPandas()
                e = con.sql(oracles[name]).df()
                if _pandas_digest(g) != _pandas_digest(e):
                    bad.append(f"{name}: {len(g)} rows differ from the "
                               f"DuckDB oracle's {len(e)}")
                self.layer_counts[name] = len(g)
        self.layer_counts["dedup.exact.survivors"] = \
            self.layer_counts.pop("corpus_curation")
        self.layer_counts["dedup.minhash.pairs"] = \
            self.layer_counts.pop("dedup_minhash_pairs")
        if self.ctx.traced:
            # an output count for the traced report only
            kept = dedup.keep_canonical(self.docs, pairs).count()
            self.layer_counts["dedup.canonical.dropped"] = self.n_docs - kept
        return len(self.ORACLE_QUERIES), len(bad), bad


def _pandas_digest(df) -> str:
    """Order-insensitive digest: columns sorted by name, floats rounded
    to 6 places, rows sorted."""
    cols = sorted(df.columns)

    def cell(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else f"{round(v, 6):.6f}"
        return str(v)

    rows = sorted("|".join(cell(v) for v in r)
                  for r in df[cols].itertuples(index=False))
    return hashlib.sha256(("\n".join([",".join(cols)] + rows))
                          .encode()).hexdigest()


WORKLOADS = {w.name: w for w in (TrainPipeline, OnlineScoring, CorpusCuration)}

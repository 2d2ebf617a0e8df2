"""Repository benchmark: one command, three workloads, a correctness gate.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root.  Inputs are generated from ``--seed`` by
``scripts/gen_testdata.generate`` into ``.perfbench_work/`` (the package
only ever sees the generated parquet), a local Spark session is started
on every core of the machine, and the workload is set up, warmed up and
then timed for ``--seconds`` (longer when the workload's minimum number
of operations needs it).  Untimed checks then verify the outputs.

With ``--trace 0`` the last line of stdout is a JSON object with the
end-to-end metrics; with ``--trace 1`` the measured operations are
traced, and the JSON holds the per-layer metrics (self times and counts
per operation) plus the tracing overhead.  The traced run of
``train_pipeline`` also traces one ``corpus_curation`` pass.  Lines
before the JSON name every metric of the workload with its unit, median
and quartiles.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, replace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
REQUIRED = ("dataframe_pipeline_spark/__init__.py", "scripts/gen_testdata.py",
            "examples/fraud_detection.py", "__spark_entry__.py")
WORKLOAD_NAMES = ("train_pipeline", "online_scoring", "corpus_curation")
#: the traced run of train_pipeline also traces one corpus_curation
#: pass in its session, so that the text and dedup layers are measured
#: on a gated workload
TRACED_COMPANION = {"train_pipeline": "corpus_curation"}


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def _percentile(values: list[float], p: float) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, int(p * len(s)))]


class Segment:
    """The timed operations of one workload and the Spark counters
    behind them."""

    def __init__(self):
        self.ops: list[tuple[dict, float]] = []
        #: CPU milliseconds of the process tree per operation, one value
        #: per block of ``cpu_block`` operations
        self.cpu_ms: list[float] = []
        self.op_ids: set[tuple[str, int]] = set()
        self.failed = 0
        self.wall = 0.0
        self.exec = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        self.jobs_by_phase: dict[str, int] = {}
        self.persisted_rdds = 0

    def add_counts(self, counts: dict) -> None:
        for k in self.exec:
            self.exec[k] += counts[k]
        for phase, n in counts["jobs_by_phase"].items():
            self.jobs_by_phase[phase] = self.jobs_by_phase.get(phase, 0) + n

    @property
    def op_ms(self) -> list[float]:
        return [s * 1000 for _, s in self.ops]

    def series(self, key: str) -> list[float]:
        return [parts[key] for parts, _ in self.ops]


def measure(wl, ctx, seconds: float, first: int) -> Segment:
    """Run operations for ``seconds``, and at least ``wl.min_ops`` of
    them, traced when ``ctx.traced``.  The CPU time of the process tree
    is read after every ``wl.cpu_block`` operations.  A traced run also
    reads the persistent-RDD count after each operation."""
    from probes import TreeCpu

    seg = Segment()
    tracer, counters = ctx.tracer, ctx.counters
    cpu = TreeCpu(os.getpid())
    start = time.perf_counter()
    i = first
    cpu0, block = cpu.seconds(), 0
    while (time.perf_counter() - start < seconds
           or len(seg.ops) + seg.failed < wl.min_ops):
        tracer.enabled = ctx.traced
        tracer.op = (wl.name, i)
        seg.op_ids.add(tracer.op)
        t0 = time.perf_counter()
        try:
            seg.ops.append(wl.op(i))
        except Exception:
            traceback.print_exc()
            seg.failed += 1
        finally:
            tracer.enabled = False
        seg.wall += time.perf_counter() - t0
        block += 1
        if block == wl.cpu_block:
            seg.cpu_ms.append((cpu.seconds() - cpu0) * 1000 / block)
        seg.add_counts(counters.take())
        if ctx.traced:
            seg.persisted_rdds = counters.persisted_rdds()
        if block == wl.cpu_block:
            # the counters above are the benchmark's work, not the program's
            cpu0, block = cpu.seconds(), 0
        i += 1
    if not seg.ops:
        raise RuntimeError(f"every operation of {wl.name} failed")
    return seg


@dataclass
class Measured:
    wl: object
    rows: dict
    seg: Segment
    phases: dict
    setup_end: float


def prepare_and_measure(cls, ctx, seconds: float) -> Measured:
    """Load, set up and warm up workload ``cls`` in the running session,
    then measure it."""
    from workloads import layer_targets

    wl = cls(ctx)
    t = [time.perf_counter()]
    rows = wl.load()
    t.append(time.perf_counter())
    wl.setup()
    t.append(time.perf_counter())
    for i in range(wl.warmup_ops):
        wl.op(i)
    ctx.counters.take()
    t.append(time.perf_counter())
    if ctx.traced:
        ctx.tracer.install(layer_targets(ctx.tracer))
    try:
        seg = measure(wl, ctx, seconds, wl.warmup_ops)
    finally:
        ctx.tracer.uninstall()
    t.append(time.perf_counter())
    phases = {name: b - a for name, a, b
              in zip(("load", "fit", "warm-up", "measure"), t, t[1:])}
    return Measured(wl, rows, seg, phases, setup_end=t[3])


def _setup_env(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python write inside run_dir."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # no JVM, not even spark-submit's launcher, writes /tmp/hsperfdata_*.
    # The JIT compiler threads are started once and never ended, so that
    # probes.TreeCpu can leave out all of their CPU time; their number is
    # the JVM's default.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        "-XX:-UseDynamicNumberOfCompilerThreads' pyspark-shell")


def run(args, run_dir: str) -> dict:
    from dataframe_pipeline_spark import session
    from probes import RssSampler, SparkCounters, stop_spark
    from scripts.gen_testdata import generate
    from tracer import Tracer, span_cost_s
    from workloads import WORKLOADS, Context

    cls = WORKLOADS[args.workload]
    sampler = RssSampler(os.getpid()).start()
    t_gen = time.perf_counter()
    data_dir = generate(cls.sf, os.path.join(run_dir, "data"), args.seed)
    t0 = time.perf_counter()
    spark = session.get_spark(f"perfbench-{args.workload}")
    get_spark_s = time.perf_counter() - t0
    tracer = Tracer()
    companion = None
    try:
        ctx = Context(spark, data_dir, run_dir, args.seed,
                      SparkCounters(spark.sparkContext), tracer,
                      bool(args.trace))
        main = prepare_and_measure(cls, ctx, args.seconds)
        setup_s = main.setup_end - t0
        peak_rss_mb = sampler.stop()
        t_check = time.perf_counter()
        checked, failed, problems = main.wl.check()
        phases = {"generate": t0 - t_gen, "session": get_spark_s,
                  **main.phases, "check": time.perf_counter() - t_check}
        if args.trace and args.workload in TRACED_COMPANION:
            t_comp = time.perf_counter()
            comp_cls = WORKLOADS[TRACED_COMPANION[args.workload]]
            comp_dir = generate(comp_cls.sf,
                                os.path.join(run_dir, comp_cls.name), args.seed)
            companion = prepare_and_measure(
                comp_cls, replace(ctx, data_dir=comp_dir), 0)
            c_checked, c_failed, c_problems = companion.wl.check()
            checked += c_checked
            failed += c_failed
            problems += c_problems
            phases[comp_cls.name] = time.perf_counter() - t_comp
    finally:
        sampler.stop()
        stop_spark(spark)
    for p in problems:
        print(f"CHECK FAILED {p}", file=sys.stderr)
    segments = [m.seg for m in (main, companion) if m]
    attempted = sum(len(s.ops) + s.failed for s in segments) + checked
    failed += sum(s.failed for s in segments)
    return {"main": main, "companion": companion, "tracer": tracer,
            "span_cost_s": span_cost_s() if args.trace else None,
            "setup_s": setup_s, "get_spark_s": get_spark_s,
            "peak_rss_mb": peak_rss_mb, "attempted": attempted,
            "failed": failed, "phases": phases}


def end_to_end(r: dict) -> dict:
    return {
        "setup_s": (r["setup_s"], "s"),
        "op_cpu_ms": (statistics.median(r["main"].seg.cpu_ms), "ms"),
    }


def per_layer(r: dict) -> dict:
    from workloads import OPERATOR_CLASSES

    wl, tr, tracer = r["main"].wl, r["main"].seg, r["tracer"]
    n, ops = len(tr.ops), tr.op_ids
    st = tracer.self_times(ops)

    def self_s(name: str, scale: float = 1.0) -> float:
        return st.get(name, (0.0, 0))[0] / n * scale

    m = {
        "memory.peak_rss_mb": (r["peak_rss_mb"], "MB"),
        "session.get_spark_s": (r["get_spark_s"], "s"),
        "pipeline.fit_transform_s": (self_s("pipeline.fit_transform"), "s"),
        "pipeline.fit_jobs": (tr.jobs_by_phase.get("fit", 0) / n, "count"),
        "pipeline.transform_ms": (self_s("pipeline.transform", 1e3), "ms"),
    }
    for c in OPERATOR_CLASSES:
        m[f"operators.{c}.fit_s"] = (self_s(f"operators.{c}.fit"), "s")
        m[f"operators.{c}.transform_ms"] = (
            self_s(f"operators.{c}.transform", 1e3), "ms")
    m.update({
        "lambda_compiler.calls": (
            st.get("lambda_compiler.compile", (0.0, 0))[1] / n, "count"),
        "lambda_compiler.native": (
            tracer.total("lambda_compiler.native", ops) / n, "count"),
        "lambda_compiler.compile_ms": (
            self_s("lambda_compiler.compile", 1e3), "ms"),
        "exec.sink_s": (self_s("exec.sink"), "s"),
        "exec.jobs": (tr.exec["jobs"] / n, "count"),
        "exec.stages": (tr.exec["stages"] / n, "count"),
        "exec.tasks": (tr.exec["tasks"] / n, "count"),
        "exec.failed_tasks": (tr.exec["failed_tasks"] / n, "count"),
        "exec.persisted_rdds": (tr.persisted_rdds, "count"),
        "persistence.save_s": (self_s("persistence.save"), "s"),
        "persistence.load_s": (self_s("persistence.load"), "s"),
        "persistence.bytes": (
            tracer.total("persistence.bytes", ops) / n, "B"),
        "serving.render_ms": (self_s("serving.render", 1e3), "ms"),
        "serving.plan_ms": (self_s("serving.plan", 1e3), "ms"),
        "serving.collect_ms": (self_s("serving.serve_rows", 1e3), "ms"),
        "serving.jobs_per_request": (
            tr.jobs_by_phase.get("serve", 0) / n, "count"),
        "serving.compiled_steps_ratio": (
            wl.compiled_steps_ratio() if hasattr(wl, "compiled_steps_ratio")
            else 0.0, "ratio"),
    })
    # the corpus legs: this workload's own, or its traced companion's
    legs = r["companion"] or r["main"]
    incl = tracer.inclusive_times(legs.seg.op_ids)
    for leg in ("text.curate", "dedup.minhash_pairs", "dedup.keep_canonical",
                "text.token_count", "dedup.semantic"):
        m[f"{leg}_s"] = (incl.get(leg, 0.0) / len(legs.seg.ops), "s")
    counts = getattr(legs.wl, "layer_counts", {})
    for k in ("dedup.exact.survivors", "dedup.minhash.pairs",
              "dedup.canonical.dropped"):
        m[k] = (counts.get(k, 0), "count")
    m.update(trace_overhead(r))
    return m


def trace_overhead(r: dict) -> dict:
    """What tracing adds to one operation: the measured cost of one span
    times the spans an operation records.  A traced-minus-untraced
    difference of whole operations would be far below the run-to-run
    noise of a pass, so the wrapper cost is timed on an empty call."""
    seg = r["main"].seg
    spans = r["tracer"].spans_of(seg.op_ids) / len(seg.ops)
    ms = r["span_cost_s"] * 1e3 * spans
    untraced_ms = statistics.median(seg.op_ms) - ms
    return {"trace.overhead_ms": (ms, "ms"),
            "trace.overhead_pct": (100 * ms / untraced_ms, "%"),
            "trace.spans_per_op": (spans, "count")}


def report_lines(args, r: dict) -> list[str]:
    """Every end-to-end metric of the workload by name and unit, with
    the median and quartiles of its per-operation samples."""
    wl, plain = r["main"].wl, r["main"].seg

    def dist(name: str, values: list[float], unit: str) -> str:
        q1, q2, q3 = _quartiles(values)
        return (f"  {name} = {q2:.6g} {unit} "
                f"(median of {len(values)}; q1 {q1:.6g}, q3 {q3:.6g})")

    lines = [f"perfbench workload={wl.name} seed={args.seed} sf={wl.sf:g} "
             f"seconds={args.seconds} trace={args.trace}",
             "  rows: " + ", ".join(f"{k}={v}"
                                   for k, v in r["main"].rows.items()),
             f"  setup_s = {r['setup_s']:.6g} s "
             f"(session {r['get_spark_s']:.4g} s)",
             "  wall: " + ", ".join(f"{k} {v:.3g} s"
                                    for k, v in r["phases"].items())]
    if wl.name == "train_pipeline":
        lines.append(dist("fit_transform_s", plain.series("fit_transform_s"),
                          "s"))
        lines.append(dist("score_s", plain.series("score_s"), "s"))
    elif wl.name == "online_scoring":
        ms = plain.op_ms
        lines.append(dist("serve_p50_ms", ms, "ms"))
        lines.append(f"  serve_p95_ms = {_percentile(ms, 0.95):.6g} ms "
                     f"({len(ms)} requests, 1 closed-loop client)")
        lines.append(f"  serve_rps = {len(ms) / plain.wall:.6g} 1/s")
    else:
        lines.append(dist("corpus_docs_per_s",
                          [wl.n_docs / s for _, s in plain.ops], "1/s"))
        for leg in plain.ops[0][0]:
            lines.append(dist(leg, plain.series(leg), "s"))
    lines.append(f"  error_rate = {r['failed'] / r['attempted']:.6g} "
                 f"({r['failed']} of {r['attempted']} operations)")
    lines.append(f"  peak_rss_mb = {r['peak_rss_mb']:.6g} MB")
    lines.append(dist("op_ms", plain.op_ms, "ms"))
    lines.append(dist("op_cpu_ms", plain.cpu_ms, "ms"))
    if r["companion"]:
        c = r["companion"]
        lines.append(f"  traced companion {c.wl.name} (sf={c.wl.sf:g}): "
                     + ", ".join(f"{k}={v}" for k, v in c.rows.items())
                     + f"; pass {c.seg.op_ms[0]:.6g} ms")
    if args.trace:
        lines.append(f"  one span costs {r['span_cost_s'] * 1e6:.3g} us "
                     "(enabled wrapper around an empty call)")
    lines.append(f"  correct = {r['failed'] == 0}")
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {ROOT} is not a checkout of the repository "
              f"(missing {', '.join(missing)})", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    _setup_env(run_dir)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "examples")]
    try:
        r = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = per_layer(r) if args.trace else end_to_end(r)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
    if args.trace:
        r["tracer"].write(os.path.join(WORK, "reports", f"{tag}.spans.json"))
    lines = report_lines(args, r)
    lines += [f"  {k} = {v:.6g} {u}" for k, (v, u) in metrics.items()]
    with open(os.path.join(WORK, "reports", f"{tag}.txt"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print("\n".join(lines))
    print(json.dumps({
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

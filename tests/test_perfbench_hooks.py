"""The benchmark (perfbench/) reaches into the package by name: its
traced run wraps public functions and methods, and the online workload
reads the serving tier's compiler table and per-step compiled state.
These tests keep those hooks resolvable and meaningful."""

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def perfbench():
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    try:
        import tracer
        import workloads
        from probes import SparkCounters

        yield workloads, tracer, SparkCounters
    finally:
        sys.path.remove(os.path.join(ROOT, "perfbench"))


def test_layer_targets_resolve(perfbench):
    workloads, tracer, _ = perfbench
    targets = workloads.layer_targets(tracer.Tracer())
    assert targets
    for owner, attr, span, _hook in targets:
        if isinstance(owner, type):
            assert any(attr in k.__dict__ for k in owner.__mro__), span
        assert callable(getattr(owner, attr)), span


def test_online_workload_spans_and_compiled_ratio(spark, tmp_path,
                                                  perfbench):
    """The online workload on a small input: requests go through the
    wrapped ``serve_rows`` but, once the program is bound at set-up, not
    through the VALUES path's layers (render, plan); they launch no job,
    equal batch, and every lookup step is compiled."""
    workloads, tracer, SparkCounters = perfbench
    tr = tracer.Tracer()
    ctx = workloads.Context(spark, "/root/testdata/sf0.001", str(tmp_path),
                            1, SparkCounters(spark.sparkContext), tr, True)
    wl = workloads.OnlineScoring(ctx)
    wl.load()
    wl.setup()
    assert wl.compiled_steps_ratio() == 1.0
    tr.install(workloads.layer_targets(tr))
    try:
        tr.enabled, tr.op = True, ("online_scoring", 0)
        for i in range(3):
            wl.op(i)
    finally:
        tr.enabled = False
        tr.uninstall()
    spans = {s[0] for s in tr.spans}
    assert "serving.serve_rows" in spans
    assert not {"serving.render", "serving.plan"} & spans
    checked, failed, problems = wl.check()
    assert failed == 0, problems
    assert wl.request_jobs == 0


def test_serving_compilers_are_the_lookup_declaring_operators():
    """perfbench's compiled_steps_ratio counts the steps whose class is
    in ``serving._SERVING_COMPILERS``; that set must be exactly the
    package operators declaring lookups (a ``lookups()`` method), the
    hook the serving compiler reads."""
    from dataframe_pipeline_spark import serving
    from dataframe_pipeline_spark.base import SparkDFPBase

    def subclasses(cls):
        for sub in cls.__subclasses__():
            yield sub
            yield from subclasses(sub)

    declaring = {c.__name__ for c in subclasses(SparkDFPBase)
                 if c.__module__.startswith("dataframe_pipeline_spark")
                 and callable(getattr(c, "lookups", None))}
    assert serving._SERVING_COMPILERS == declaring

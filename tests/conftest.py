import itertools
import math
import os
import shutil
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    """One session for the run.  It keeps its class-data-sharing archive
    in a cache of its own, so the suite neither maps nor leaves an archive
    in the user's cache.  Its JVM is stopped and waited for at the end,
    so it writes the archive before that cache is deleted rather than as
    an orphan."""
    from dataframe_pipeline_spark.session import get_spark
    from perfbench.probes import stop_spark

    cache = tmp_path_factory.mktemp("cache")
    old = os.environ.get("XDG_CACHE_HOME")
    os.environ["XDG_CACHE_HOME"] = str(cache)
    try:
        s = get_spark("dfp-tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "4")))
    finally:
        if old is None:
            del os.environ["XDG_CACHE_HOME"]
        else:
            os.environ["XDG_CACHE_HOME"] = old
    yield s
    stop_spark(s)
    shutil.rmtree(cache, ignore_errors=True)


@pytest.fixture()
def no_auto_broadcast(spark):
    """Planner-chosen broadcasts off, so any BroadcastHashJoin in the
    plan can only come from an explicit operator hint — isolates what
    the gate tests actually assert."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


#: job groups are never reused: the status tracker keeps past jobs
_job_groups = itertools.count()


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn, *args)`` runs ``fn`` in a job group of its own
    and returns ``(its result, the number of Spark jobs it launched)``,
    read from the status tracker."""
    sc = spark.sparkContext

    def run(fn, *args, **kwargs):
        group = f"count_jobs_{next(_job_groups)}"
        sc.setJobGroup(group, group)
        try:
            out = fn(*args, **kwargs)
        finally:
            sc.setJobGroup("count_jobs_done", "")
        return out, len(list(sc.statusTracker().getJobIdsForGroup(group)))

    return run


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, float):
        return round(v, 9)
    return v


def assert_frames_equal(result_df, expected: pd.DataFrame, sort_by=None, check_order=False):
    """Golden-frame compare: Spark result vs expected pandas frame.

    NaN is normalized to None, floats rounded to 9 places, rows compared
    order-insensitively (sorted by all columns) unless check_order=True —
    matching the driver's oracle comparison discipline.
    """
    got = result_df.toPandas()
    assert list(got.columns) == list(expected.columns), (
        f"columns differ: {list(got.columns)} vs {list(expected.columns)}"
    )
    g = [tuple(_norm_cell(v) for v in row) for row in got.itertuples(index=False)]
    e = [tuple(_norm_cell(v) for v in row) for row in expected.itertuples(index=False)]
    if not check_order:
        def cell_key(x):
            if x is None:
                return (2, "")
            if isinstance(x, (int, float)) and not isinstance(x, bool):
                return (0, float(x))
            return (1, str(x))

        key = lambda t: tuple(cell_key(x) for x in t)
        g, e = sorted(g, key=key), sorted(e, key=key)
    assert g == e, f"rows differ:\n got: {g}\n exp: {e}"

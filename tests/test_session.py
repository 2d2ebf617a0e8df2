"""The driver JVM's class-data-sharing archive (session.py): what it is
keyed on, when a session goes without one, and that no session maps an
archive that a throwaway JVM has not first mapped in its place."""

import fcntl
import json
import os
import shutil
import subprocess
import sys
import threading

import pytest
from pyspark import SparkContext

from dataframe_pipeline_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JAVA = shutil.which("java")

#: one session in a fresh interpreter: the JVM's stdout is this
#: process's, and stop_spark waits for the JVM (and so for its dump)
SESSION = r"""
import json, os
from dataframe_pipeline_spark import session
from perfbench.probes import stop_spark
spark = session.get_spark("cds-test", cpus=1)
result = {"conf_dir_set": "SPARK_CONF_DIR" in os.environ,
          "options": spark.conf.get("spark.driver.defaultJavaOptions", ""),
          "count": spark.range(3).count()}
stop_spark(spark)
print("RESULT " + json.dumps(result))
"""


def _jar(d, name, size):
    with open(os.path.join(d, name), "wb") as fh:
        fh.write(b"\0" * size)


def test_key_tracks_what_the_jvm_checks(tmp_path):
    jars = tmp_path / "jars"
    jars.mkdir()
    _jar(jars, "a.jar", 10)
    _jar(jars, "b.jar", 20)
    other_java = tmp_path / "bin" / "java"
    other_java.parent.mkdir()
    other_java.write_bytes(b"#!")

    def key(java=JAVA, heap="8g"):
        return session.archive_key(java, str(jars), "/conf", heap)

    base = key()
    assert key() == base
    assert key(heap="4g") != base
    assert key(java=str(other_java)) != base
    assert session.archive_key(JAVA, str(jars), "/other", "8g") != base
    _jar(jars, "a.jar", 11)
    sized = key()
    assert sized != base
    st = os.stat(jars / "a.jar")
    os.utime(jars / "a.jar", ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert key() != sized


@pytest.fixture()
def spark_home(tmp_path, monkeypatch):
    """A Spark home whose conf dir holds only a template, and an empty
    cache; no JVM runs."""
    home = tmp_path / "spark"
    (home / "conf").mkdir(parents=True)
    (home / "jars").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for v in ("SPARK_CONF_DIR",) + session._CLASSPATH_ENV:
        monkeypatch.delenv(v, raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    return home


def test_no_archive_where_it_could_not_be_kept(spark_home, tmp_path, monkeypatch):
    """A JVM that is not about to start, a conf dir Spark reads, a conf dir
    set by the caller or a cache that cannot be written: no archive."""
    home = spark_home
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert session._ClassDataSharing.plan("8g") is None   # a JVM runs
    monkeypatch.setattr(SparkContext, "_gateway", None)
    cds = session._ClassDataSharing.plan("8g")
    assert cds is not None and "ArchiveClassesAtExit" in cds.java_options

    monkeypatch.setenv("SPARK_CONF_DIR", str(home / "conf"))
    assert session._ClassDataSharing.plan("8g") is None
    monkeypatch.delenv("SPARK_CONF_DIR")
    (home / "conf" / "spark-defaults.conf").write_text("spark.x 1\n")
    assert session._ClassDataSharing.plan("8g") is None
    (home / "conf" / "spark-defaults.conf").unlink()

    (tmp_path / "file").write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "file"))
    assert session._ClassDataSharing.plan("8g") is None


def test_claims_are_read_under_a_lock(spark_home):
    """A live recording makes a session go without an archive, but not a
    claim whose pid now belongs to another process or a file a dead
    writer left half-way; and no session reads the cache while another
    holds its lock."""
    plan = session._ClassDataSharing.plan
    cds = plan("8g")
    claim = cds.record + ".json"
    live = session._claim(os.getppid())
    assert live["start"] is not None
    with open(claim, "w") as fh:
        json.dump(live, fh)
    assert plan("8g") is None   # another session records
    with open(claim, "w") as fh:
        json.dump(dict(live, start="0"), fh)   # its pid was reused
    with open(cds.final_meta + ".part", "w") as fh:
        fh.write("{")
    again = plan("8g")
    assert again is not None and again.record == cds.record
    assert json.load(open(claim))["pid"] == os.getpid()
    assert not os.path.exists(cds.final_meta + ".part")

    got = []
    with open(os.path.join(cds.dir, "lock"), "a") as fh:
        fcntl.flock(fh, fcntl.LOCK_EX)
        t = threading.Thread(target=lambda: got.append(plan("8g")))
        t.start()
        t.join(0.5)
        assert t.is_alive() and not got
    t.join(30)
    assert got and got[0] is not None


def _run_session(env, cwd):
    out = subprocess.run([sys.executable, "-c", SESSION], cwd=cwd, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    line = [x for x in out.stdout.splitlines() if x.startswith("RESULT ")]
    assert line, out.stdout[-3000:]
    return out.stdout, json.loads(line[0][len("RESULT "):])


def _recordings(cds_dir):
    return sorted(n for n in os.listdir(cds_dir)
                  if ".jsa." in n and not n.endswith(".json"))


@pytest.mark.skipif(JAVA is None, reason="no java on PATH")
def test_bad_recordings_are_discarded_and_rebuilt(tmp_path, monkeypatch):
    """Two cold sessions.  The first records an archive; then that
    archive's claim gets a class path this key would not use, and a
    truncated copy of it (which kills any JVM that maps it, with
    SIGBUS) gets a correct claim.  The second session discards both and
    records again; only then does a finished recording pass the check
    and become the archive sessions map."""
    cache, cwd = tmp_path / "cache", tmp_path / "cwd"
    cwd.mkdir()
    env = dict(os.environ, XDG_CACHE_HOME=str(cache), PYTHONPATH=REPO,
               SPARK_DRIVER_MEMORY="1g")
    for v in ("SPARK_CONF_DIR",) + session._CLASSPATH_ENV:
        env.pop(v, None)
    cds_dir = cache / "dataframe_pipeline_spark" / "cds"

    stdout, first = _run_session(env, cwd)
    assert "[cds" not in stdout
    assert first["count"] == 3 and not first["conf_dir_set"]
    assert "-XX:ArchiveClassesAtExit=" in first["options"]
    [rec] = _recordings(cds_dir)
    full = str(cds_dir / rec)
    claim = json.loads(open(full + ".json").read())
    assert claim["class_path"] and claim["pid"] != os.getpid()

    truncated = full[:-len(rec.rsplit(".", 1)[1])] + "1"
    with open(full, "rb") as src, open(truncated, "wb") as dst:
        dst.write(src.read(os.path.getsize(full) // 2))
    with open(truncated + ".json", "w") as fh:
        json.dump(claim, fh)
    # the JVM accepts a run-time class path that extends the dump's
    with open(full + ".json", "w") as fh:
        json.dump(dict(claim, class_path=claim["class_path"] + ":/x.jar"), fh)

    stdout, second = _run_session(env, cwd)
    assert "[cds" not in stdout
    assert second["count"] == 3 and not second["conf_dir_set"]
    assert "-XX:ArchiveClassesAtExit=" in second["options"]
    [rebuilt] = _recordings(cds_dir)
    assert str(cds_dir / rebuilt) not in (full, truncated)
    assert not os.listdir(cwd)   # the crashed check left no hs_err file

    monkeypatch.setenv("XDG_CACHE_HOME", str(cache))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    cds = session._ClassDataSharing.plan("1g")
    assert cds is not None
    assert f'"-XX:SharedArchiveFile={cds.final}"' in cds.java_options
    assert _recordings(cds_dir) == [] and os.path.exists(cds.final)
    shutil.rmtree(cache)   # 140 MB

"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]`` (one JVM), but every setting below is
chosen so the same code is correct on a multi-executor cluster:

- AQE on: runtime coalescing, skew-join splitting, sort-merge→broadcast
  conversion once real sizes are known.
- shuffle.partitions sized to cores locally; on a cluster AQE re-coalesces.
- session timezone pinned UTC so timestamps agree with the DuckDB oracle.
- Arrow enabled for any pandas-UDF slow paths.

Class-data sharing.  The driver JVM maps the classes that session
start, a load and a first pass use from a dynamic AppCDS archive
(JEP 350) instead of loading and verifying them from the jars; on
4 vCPUs perfbench's session phase went 5.5 → 2.8 s and its load phase
4.5 → 2.2 s.  The archive lives in
``${XDG_CACHE_HOME:-~/.cache}/dataframe_pipeline_spark/cds/`` as
``<key>.jsa`` (170–200 MB), keyed on the java binary and its version,
the name, size and mtime of every ``$SPARK_HOME/jars`` entry, the conf
dir and the driver heap.  The first session of a key on a machine
records it: it starts with ``-XX:ArchiveClassesAtExit``, its set-up
19–45 % slower, and its JVM spends 11–13 s at exit writing
``<key>.jsa.<pid>``.  The next session checks that file in a throwaway
``java -Xshare:on … -version`` and only then renames it to
``<key>.jsa``: JDK 17 dies with SIGBUS when it maps a truncated
archive, even under ``-Xshare:auto``, so no session maps a file a JVM
could still be writing.  Deleting the directory resets it.  The JVM
refuses to archive with a non-empty directory on the class path, so the
sessions point ``SPARK_CONF_DIR`` at an empty directory beside the
archive while the JVM starts, which is only done when the default conf
dir holds nothing but ``*.template`` files; any other conf dir, an
unwritable cache or a JVM already running starts without an archive.
"""

from __future__ import annotations

import contextlib
import fcntl
import hashlib
import json
import os
import shutil
import subprocess

from pyspark import SparkContext
from pyspark.sql import SparkSession

#: environment the launcher adds to the driver's class path; any of them
#: set and the archive's class path is not the one keyed, so no archive
_CLASSPATH_ENV = ("SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
                  "SPARK_PREPEND_CLASSES")


def get_spark(app_name: str = "dataframe_pipeline_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    heap = os.environ.get("SPARK_DRIVER_MEMORY", "8g")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # keep stdout clean: progress bars interleave with the bench
        # harness's final JSON line and can break the driver's tail parse
        .config("spark.ui.showConsoleProgress", "false")
        # skip per-Column-call Python stack capture (error-context
        # decoration): profiled at ~30% of plan-BUILD time on wide
        # expression trees (the expectation suite's 9-check struct
        # spent 0.8s of its 2.8s build in inspect.stack) — a pure
        # driver-side overhead with no effect on results; errors lose
        # only the "called from line N" decoration
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", heap)
    )
    cds = _ClassDataSharing.plan(heap)
    if cds is None:
        spark = builder.getOrCreate()
    else:
        # defaultJavaOptions, not extraJavaOptions: pyspark puts builder
        # confs before PYSPARK_SUBMIT_ARGS, whose --driver-java-options
        # replace extraJavaOptions but are appended to these
        builder.config("spark.driver.defaultJavaOptions", cds.java_options)
        os.environ["SPARK_CONF_DIR"] = cds.conf_dir
        try:
            spark = builder.getOrCreate()
        finally:
            del os.environ["SPARK_CONF_DIR"]
        cds.started(spark)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def archive_key(java: str, jars_dir: str, conf_dir: str, heap: str) -> str:
    """What the JVM checks an archive against: the java binary and its
    version, every jar (name, size, mtime), the conf dir on the class
    path and the heap size (which picks the compressed-pointer mode)."""
    h = hashlib.sha256()
    java = os.path.realpath(java)
    st = os.stat(java)
    h.update(f"{java}\0{st.st_size}\0{st.st_mtime_ns}\0".encode())
    try:
        with open(os.path.join(os.path.dirname(os.path.dirname(java)),
                               "release"), "rb") as fh:
            h.update(fh.read())
    except OSError:
        pass
    for name in sorted(os.listdir(jars_dir)):
        st = os.stat(os.path.join(jars_dir, name))
        h.update(f"{name}\0{st.st_size}\0{st.st_mtime_ns}\0".encode())
    h.update(f"{conf_dir}\0{heap}".encode())
    return h.hexdigest()[:20]


def _start_time(pid: int) -> str | None:
    """When ``pid`` started, in clock ticks after boot (``/proc``), so
    that a pid the kernel reused is not taken for the process that wrote
    a claim; None where it cannot be read."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[19]
    except (OSError, IndexError):
        return None


def _running(pid: int, start: str | None) -> bool:
    """True while the process that started at ``start`` as ``pid`` runs
    and is not this process (whose own claim can only be left from a
    launch that failed)."""
    if pid == os.getpid():
        return False
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return start is None or _start_time(pid) in (None, start)


@contextlib.contextmanager
def _locked(cache: str):
    """Hold the cache's lock: every session reads and writes the cache
    under it, so none sees another's files half-way."""
    with open(os.path.join(cache, "lock"), "a") as fh:
        fcntl.flock(fh, fcntl.LOCK_EX)
        yield


def _claim(pid: int, **fields) -> dict:
    return {"pid": pid, "start": _start_time(pid), **fields}


def _remove(*paths: str) -> None:
    for p in paths:
        try:
            os.remove(p)
        except OSError:
            pass


def _read_json(path: str) -> dict | None:
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def _write_json(path: str, obj: dict) -> None:
    with open(path + ".part", "w") as fh:
        json.dump(obj, fh)
    os.replace(path + ".part", path)


class _ClassDataSharing:
    """The archive of one key in the cache: which one a session maps,
    or where it records a new one."""

    def __init__(self, java: str, jars_dir: str, heap: str, cache: str):
        self.java, self.jars_dir, self.heap, self.dir = java, jars_dir, heap, cache
        self.conf_dir = os.path.join(cache, "conf")
        self.key = archive_key(java, jars_dir, self.conf_dir, heap)
        self.final = os.path.join(cache, self.key + ".jsa")
        self.final_meta = os.path.join(cache, self.key + ".json")
        self.record: str | None = None   # the temp archive this session writes
        self.java_options = ""

    @classmethod
    def plan(cls, heap: str) -> "_ClassDataSharing | None":
        """The archive for the JVM about to start, or None to start
        without one."""
        if (SparkContext._gateway is not None
                or "PYSPARK_GATEWAY_PORT" in os.environ
                or "SPARK_CONF_DIR" in os.environ
                or any(v in os.environ for v in _CLASSPATH_ENV)):
            return None
        from pyspark.find_spark_home import _find_spark_home

        java = (os.path.join(os.environ["JAVA_HOME"], "bin", "java")
                if os.environ.get("JAVA_HOME") else shutil.which("java"))
        if java is None:
            return None
        spark_home = _find_spark_home()
        cache = os.path.join(
            os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
            "dataframe_pipeline_spark", "cds")
        try:
            if not _templates_only(os.path.join(spark_home, "conf")):
                return None
            os.makedirs(os.path.join(cache, "conf"), exist_ok=True)
            if os.listdir(os.path.join(cache, "conf")):
                return None
            cds = cls(java, os.path.join(spark_home, "jars"), heap, cache)
            with _locked(cache):
                return cds if cds._choose() else None
        except OSError:
            return None

    def _valid(self, tmp: str, meta: dict) -> bool:
        """The recorded JVM is this key's and maps ``tmp`` in a
        throwaway ``java -Xshare:on`` run.  A truncated archive kills
        that JVM, not a session."""
        cp = meta.get("class_path", "")
        expected = {os.path.normpath(self.conf_dir)} | {
            os.path.join(self.jars_dir, n) for n in os.listdir(self.jars_dir)
            if n.endswith(".jar")}
        if ({os.path.normpath(p) for p in cp.split(os.pathsep)} != expected
                or os.path.realpath(meta.get("java_home", "")) != os.path.dirname(
                    os.path.dirname(os.path.realpath(self.java)))):
            return False
        try:
            return subprocess.run(
                [self.java, "-Xshare:on", f"-XX:SharedArchiveFile={tmp}",
                 f"-Xmx{self.heap}", f"-XX:ErrorFile={os.devnull}",
                 "-XX:-CreateCoredumpOnCrash", "-cp", cp, "-version"],
                cwd=self.dir, stdin=subprocess.DEVNULL,
                stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                timeout=60).returncode == 0
        except (OSError, subprocess.SubprocessError):
            return False

    def _final_ok(self) -> bool:
        """The promoted archive is the file ``_valid`` checked."""
        meta = _read_json(self.final_meta)
        try:
            st = os.stat(self.final)
        except OSError:
            return False
        return (meta is not None and meta.get("size") == st.st_size
                and meta.get("mtime_ns") == st.st_mtime_ns)

    def _choose(self) -> bool:
        """Clear other keys' files, promote a finished recording that
        passes ``_valid``, and pick this session's flags.  False: start
        without an archive, because another session is recording one."""
        names = sorted(set(os.listdir(self.dir)) - {"conf", "lock"})
        for name in names:   # writes are locked, so a .part is a dead writer's
            if not name.startswith(self.key + ".") or name.endswith(".part"):
                _remove(os.path.join(self.dir, name))
        final_ok = self._final_ok()
        if not final_ok:
            _remove(self.final, self.final_meta)
        prefix, recording = self.key + ".jsa.", False
        for name in names:   # each recording's claim: <key>.jsa.<pid>.json
            if not (name.startswith(prefix) and name.endswith(".json")):
                continue
            tmp = os.path.join(self.dir, name[:-len(".json")])
            meta = _read_json(tmp + ".json") or {}
            if (isinstance(meta.get("pid"), int)
                    and _running(meta["pid"], meta.get("start"))):
                recording = True
                continue
            if not final_ok and os.path.exists(tmp) and self._valid(tmp, meta):
                os.replace(tmp, self.final)
                st = os.stat(self.final)
                _write_json(self.final_meta, {"size": st.st_size,
                                              "mtime_ns": st.st_mtime_ns})
                final_ok = True
            _remove(tmp, tmp + ".json")
        for name in names:   # archives without a claim cannot be checked
            path = os.path.join(self.dir, name)
            if (name.startswith(prefix) and not name.endswith(".json")
                    and not os.path.exists(path + ".json")):
                _remove(path)
        if final_ok:
            self.java_options = f'"-XX:SharedArchiveFile={self.final}"'
        elif recording:
            return False
        else:
            self.record = os.path.join(self.dir, f"{prefix}{os.getpid()}")
            _write_json(self.record + ".json", _claim(os.getpid()))
            self.java_options = f'"-XX:ArchiveClassesAtExit={self.record}"'
        # the JVM logs each class a dump skips (~600 lines) to stdout
        self.java_options += " -Xlog:cds*=off"
        return True

    def started(self, spark: SparkSession) -> None:
        """A recording session notes which JVM writes the archive, and
        the class path and java home it is checked against later."""
        if self.record is None:
            return
        jvm = spark._jvm
        claim = _claim(int(jvm.java.lang.ProcessHandle.current().pid()),
                       class_path=jvm.System.getProperty("java.class.path"),
                       java_home=jvm.System.getProperty("java.home"))
        try:
            with _locked(self.dir):
                _write_json(self.record + ".json", claim)
        except OSError:
            pass


def _templates_only(conf_dir: str) -> bool:
    """True when Spark reads nothing from ``conf_dir``: it is missing or
    holds only ``*.template`` files."""
    return not os.path.isdir(conf_dir) or all(
        n.endswith(".template") for n in os.listdir(conf_dir))

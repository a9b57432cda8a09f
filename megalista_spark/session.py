"""SparkSession bootstrap tuned for both local testing and cluster scale.

The defaults here are chosen for the 100 TB design point:
- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy)
- shuffle partitions sized to cores locally; on a real cluster set the
  *initial* number high with spark-submit, whose keys are kept (see
  ``get_spark``), and let AQE shrink it.
- Arrow enabled for the (rare) pandas-UDF paths.
- session timezone pinned to UTC so results are reproducible and
  comparable with external oracles (DuckDB timestamps are UTC-naive).

Driver JVM start-up. A scheduled job starts a new driver JVM on every run,
and loading Spark's classes is most of its set-up. When ``get_spark``
launches that JVM itself, it starts it from a JDK dynamic class-data-sharing
(AppCDS) archive kept in a per-user cache directory (mode 0700,
``$XDG_CACHE_HOME/megalista_spark``, default ``~/.cache/megalista_spark``):

- The archive is keyed by what the JVM checks when it maps one: the java
  binary and its version, the Spark jars (names, sizes, mtimes), the
  directories on the class path and the driver's JVM options. Options the
  JVM does not check (system properties, ``-Xms``, ``-Xss``, pre-touch,
  perf data) stay out of the key, and the heap size counts only as whether
  it turns compressed oops off (32 GB), so the job, the test session and
  the benchmark share one archive.
- With no archive for the key, the JVM dumps one at exit
  (``-XX:ArchiveClassesAtExit``) to a partial file named with this
  process's pid. Once the JVM has exited with status 0, the file is
  published by an atomic rename: at once when the caller stops the gateway
  itself, else at interpreter exit, when this process closes the JVM's
  stdin and waits for it. A JVM that cannot dump exits non-zero; the key
  is then marked failed and later starts are plain. A truncated archive
  can crash the JVM, so a partial file is never passed to it, and one
  whose writer is gone is deleted.
- With a published archive, the JVM maps it (``-XX:SharedArchiveFile``).
- Publishing a key's archive deletes the archives and failure marks of
  every other key, which no start would use again (a JDK update, a Spark
  jar change, new driver options). A JVM still mapping one keeps working.
- The JVM refuses to dump or map when a non-empty directory is on its class
  path. The Spark conf directory is one: when it holds only ``*.template``
  files, which Spark never reads, the launch uses an empty conf directory
  in the cache instead; any other conf directory means a plain start.
- The driver JVM's unified log goes to stderr, so stdout stays the job's.
- Nothing happens when a gateway already exists: a live session, or a
  Python driver that ``spark-submit`` started.
- A call that creates a ``local`` SparkContext, launched here or by
  ``spark-submit``, initializes Spark's ICU case-mapping class on a daemon
  thread as it returns. Its static initializer (about 1.5 s, once per JVM)
  would otherwise run inside the first task that calls ``lower``/``upper``.
  On a cluster the executors pay it at their first ``lower`` instead.

Deleting the cache directory resets it; the next start builds again.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import shlex
import shutil
import subprocess
import threading
from dataclasses import dataclass

from pyspark import SparkConf, SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# the JVM's unified log on stderr: a dump prints warnings when it exits,
# after the job has printed its result on stdout
_LOG_TO_STDERR = "-Xlog:disable -Xlog:all=warning:stderr"
# options the JVM does not check against an archive (measured on JDK 17)
_UNCHECKED = ("-D", "-Xms", "-Xss", "-XX:+AlwaysPreTouch", "-XX:-AlwaysPreTouch",
              "-XX:+UsePerfData", "-XX:-UsePerfData")
_ENV_JAVA_OPTIONS = ("SPARK_SUBMIT_OPTS", "JDK_JAVA_OPTIONS", "JAVA_TOOL_OPTIONS")
_ENV_CLASS_PATH = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
_COMPRESSED_OOPS_MIB = 32 * 1024  # a heap this large turns compressed oops off
_DUMP_TIMEOUT_S = 300
# The first lower()/upper() of a JVM initializes this class, whose static
# initializer title-cases every code point through ICU to build a lookup
# table: a one-time, JVM-wide cost of about 1.5 s (Spark 4.1, 4-core host).
_CASE_MAPPING_CLASS = "org.apache.spark.sql.catalyst.util.CollationAwareUTF8String"


def _cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 4


@dataclass(frozen=True)
class _Launch:
    """How to start the driver JVM: the archive flag ("" for a plain start),
    the conf directory to start it with, and, when it dumps an archive, the
    partial file it writes and the path to publish that file at."""

    flag: str = ""
    conf_dir: str | None = None
    partial: str | None = None
    archive: str | None = None


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "megalista_spark")


def _mib(size: str) -> float:
    """A JVM memory string (``8g``, ``512m``; no unit means MiB, as in
    ``spark.driver.memory``) in MiB."""
    m = re.fullmatch(r"(\d+)([bkmgtp]?)b?", size.strip().lower())
    if not m:
        return 0.0
    return int(m.group(1)) * 1024.0 ** "bkmgtp".index(m.group(2) or "m") / 1024 ** 2


def _stamp(path: str) -> str:
    try:
        st = os.stat(path)
    except OSError:
        return f"{path}:absent"
    return f"{path}:{st.st_size}:{st.st_mtime_ns}"


def _archive_key(conf: dict[str, str], spark_home: str) -> str | None:
    """Digest of what the driver JVM checks an archive against, or None when
    there is no java binary or Spark jars directory to key by."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    jars = os.path.join(spark_home, "jars")
    if not java or not os.path.isdir(jars):
        return None
    java = os.path.realpath(java)
    java_home = os.path.dirname(os.path.dirname(java))
    parts = [_stamp(p) for p in (java, os.path.join(java_home, "release"),
                                 os.path.join(java_home, "lib", "server", "libjvm.so"))]
    parts += sorted(_stamp(e.path) for e in os.scandir(jars))
    parts += [f"{v}={os.environ.get(v, '')}" for v in _ENV_CLASS_PATH]
    parts.append(conf.get("spark.driver.extraClassPath", ""))
    options = [conf.get("spark.driver.defaultJavaOptions", ""),
               conf.get("spark.driver.extraJavaOptions", "")]
    options += [os.environ.get(v, "") for v in _ENV_JAVA_OPTIONS]
    parts += [t for o in options for t in shlex.split(o) if not t.startswith(_UNCHECKED)]
    parts.append(f"compressed oops: {_mib(conf['spark.driver.memory']) < _COMPRESSED_OOPS_MIB}")
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:32]


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _remove_stale_partials(cache: str) -> None:
    """Delete partial archives whose writing process is gone."""
    for name in os.listdir(cache):
        parts = name.split(".")
        if len(parts) == 3 and parts[2] == "part" and parts[1].isdigit() \
                and not _pid_alive(int(parts[1])):
            try:
                os.unlink(os.path.join(cache, name))
            except FileNotFoundError:
                pass


def _remove_other_keys(archive: str) -> None:
    """Delete the archives and failure marks of every key but ``archive``'s:
    no start maps them again once a key is published. A JVM that maps one
    of them keeps working, as an unlinked file stays mapped."""
    cache, name = os.path.split(archive)
    for other in os.listdir(cache):
        if other != name and other.endswith((".jsa", ".failed")):
            try:
                os.unlink(os.path.join(cache, other))
            except FileNotFoundError:
                pass


def _plan_launch(conf: dict[str, str]) -> _Launch:
    """Where this driver JVM launch stands with its archive (see the module
    docstring). ``conf`` is the session conf the JVM is launched with."""
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(conf_dir) and not all(n.endswith(".template") for n in os.listdir(conf_dir)):
        return _Launch()
    key = _archive_key(conf, spark_home)
    if key is None:
        return _Launch()
    cache = _cache_dir()
    empty_conf = os.path.join(cache, "conf")
    os.makedirs(cache, mode=0o700, exist_ok=True)
    os.makedirs(empty_conf, mode=0o700, exist_ok=True)
    st = os.stat(cache)
    if st.st_uid != os.getuid() or st.st_mode & 0o077 or os.listdir(empty_conf):
        return _Launch()
    _remove_stale_partials(cache)
    if os.path.exists(os.path.join(cache, f"{key}.failed")):
        return _Launch()
    archive = os.path.join(cache, f"{key}.jsa")
    if os.path.isfile(archive):
        return _Launch(f"-XX:SharedArchiveFile={archive}", empty_conf)
    partial = os.path.join(cache, f"{key}.{os.getpid()}.part")
    return _Launch(f"-XX:ArchiveClassesAtExit={partial}", empty_conf, partial, archive)


def _publish(proc: subprocess.Popen, launch: _Launch) -> None:
    """Once the driver JVM has exited, publish its dump if it exited with
    status 0. A JVM that exited non-zero marks the key failed; one that was
    killed or did not exit in time leaves nothing behind to use (its partial
    file is deleted now or at a later start). At interpreter exit, with the
    JVM still up, this ends the session and closes the JVM's stdin first:
    the gateway exits at the end of its input."""
    if proc.poll() is None:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        proc.stdin.close()
        try:
            proc.wait(timeout=_DUMP_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return
    # the waiting thread and the exit hook may both get here: a rename or
    # an unlink of a file the other one has moved finds it gone
    try:
        if proc.returncode == 0:
            os.replace(launch.partial, launch.archive)
            _remove_other_keys(launch.archive)
            return
        os.unlink(launch.partial)
    except FileNotFoundError:
        pass
    if proc.returncode > 0:
        open(os.path.splitext(launch.archive)[0] + ".failed", "w").close()


def _publish_on_exit(proc: subprocess.Popen, launch: _Launch) -> None:
    """Publish as soon as the JVM exits while this process lives on (a
    caller that stops the gateway itself, then starts another process), and
    at the latest when this process exits."""

    def wait_then_publish() -> None:
        proc.wait()
        _publish(proc, launch)

    threading.Thread(target=wait_then_publish, name="cds-archive", daemon=True).start()
    atexit.register(_publish, proc, launch)


def _initialize_case_mapping(sc: SparkContext) -> threading.Thread:
    """Initialize the case-mapping class on a daemon thread that no caller
    joins. Any failure (a class a later Spark renamed, a gateway shutting
    down, a py4j network error) is dropped quietly: the thread only moves a
    cost, so it must never fail or slow a start."""

    def initialize() -> None:
        try:
            sc._jvm.java.lang.Class.forName(_CASE_MAPPING_CLASS)
        except Exception:
            pass

    thread = threading.Thread(target=initialize, name="case-mapping-init", daemon=True)
    thread.start()
    return thread


def _start(builder: SparkSession.Builder, conf: dict[str, str]) -> SparkSession:
    """getOrCreate; see the module docstring for what a new local context
    starts."""
    new_context = SparkContext._active_spark_context is None
    session = _get_or_create(builder, conf)
    sc = SparkContext._active_spark_context
    if new_context and sc is not None and sc.master.startswith("local"):
        _initialize_case_mapping(sc)
    return session


def _get_or_create(builder: SparkSession.Builder, conf: dict[str, str]) -> SparkSession:
    """getOrCreate, launching the driver JVM with its archive flags when
    this call launches it."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return builder.getOrCreate()
    try:
        launch = _plan_launch(conf)
    except (OSError, ValueError):  # a cache or option problem never fails a start
        launch = _Launch()
    caller_options = conf.get("spark.driver.extraJavaOptions", "")
    options = " ".join(o for o in (caller_options, _LOG_TO_STDERR, launch.flag) if o)
    builder = builder.config("spark.driver.extraJavaOptions", options)
    saved_conf_dir = os.environ.get("SPARK_CONF_DIR")
    if launch.conf_dir:
        os.environ["SPARK_CONF_DIR"] = launch.conf_dir
    try:
        session = builder.getOrCreate()
    finally:
        if saved_conf_dir is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved_conf_dir
    if launch.partial:
        _publish_on_exit(SparkContext._gateway.proc, launch)
    return session


def _submitted_conf() -> dict[str, str]:
    """The Spark conf of a gateway that already exists: what spark-submit
    gave the Python driver it started (``--master``, ``--conf``,
    ``spark-defaults.conf``), or a live session's launch conf. Empty when
    this process has no gateway yet."""
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        return {}
    SparkContext._ensure_initialized()
    return dict(SparkConf().getAll())


def get_spark(
    app_name: str = "megalista_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    On a real cluster, submit via spark-submit and pass ``master=None``: a
    key that spark-submit set (its master, its ``--conf`` values) keeps its
    value over the defaults below. Only a process that launches its own
    driver JVM gets the CPU-derived ``local[$SPARK_GRAFT_CPUS]`` master and
    as many shuffle partitions; under spark-submit an unset
    ``spark.sql.shuffle.partitions`` keeps Spark's default. ``master``,
    ``shuffle_partitions`` and ``extra_conf`` win over both. A driver JVM
    this call launches starts from the class-data-sharing archive (module
    docstring); the archive flags are added to the caller's
    ``spark.driver.extraJavaOptions``.
    """
    cpus = _cpus()
    defaults = {
        "spark.master": f"local[{cpus}]",
        # local: ~cores. AQE coalesces down when partitions are tiny.
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # SQL-side Python (the sink's mapInArrow upload, mapInPandas
        # kernels) runs in the same worker pool as RDD Python: Spark keys
        # its Python workers by environment, and simplified tracebacks add
        # a variable that starts a second daemon with its own workers
        "spark.sql.execution.pyspark.udf.simplifiedTraceback.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.ui.enabled": "false",
        "spark.sql.parquet.filterPushdown": "true",
        # read INT64 TIMESTAMP(NANOS) parquet columns as long (Spark has no
        # nanosecond timestamp); loaders convert to micros explicitly
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # read no-tz parquet TIMESTAMP(MICROS) as TimestampType (micros
        # since epoch, rendered in the UTC session zone) rather than
        # TIMESTAMP_NTZ, so timestamp arithmetic (unix_micros, watermarks)
        # and oracle renderings behave identically for both encodings
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    }
    submitted = _submitted_conf()
    if submitted:
        # the launcher sized the job, not this host's CPU count; a key it
        # left unset keeps Spark's default (200 shuffle partitions)
        del defaults["spark.master"], defaults["spark.sql.shuffle.partitions"]
    conf = {k: v for k, v in defaults.items() if k not in submitted}
    if master is not None:
        conf["spark.master"] = master
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf.update(extra_conf or {})
    builder = SparkSession.builder.appName(app_name)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return _start(builder, conf)

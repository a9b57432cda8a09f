"""Driver JVM start-up: the class-data-sharing archive that `get_spark`
builds once and starts from afterwards, the flags it launches the JVM with,
the core count it sizes the session by, the master it keeps and the
case-mapping class it initializes in the background.

Most tests run no JVM: they drive `_plan_launch`, `_publish` and `_start`
against a fake Spark home, a cache under `tmp_path` and a fake session
builder. The others use the test session's JVM or start fresh processes
(a plain Python driver, or one that spark-submit starts), and say so."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading
import time
import types

import pytest
from py4j.protocol import Py4JError, Py4JNetworkError
from pyspark import SparkContext

from megalista_spark import session

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def home(tmp_path, monkeypatch):
    """A Spark home with one jar and a conf directory of templates, and a
    cache directory under tmp_path; no gateway and no active context."""
    spark_home = tmp_path / "spark"
    (spark_home / "jars").mkdir(parents=True)
    (spark_home / "jars" / "spark-core.jar").write_bytes(b"jar")
    (spark_home / "conf").mkdir()
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("")
    monkeypatch.setattr(session, "_find_spark_home", lambda: str(spark_home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    return spark_home


def _conf(**extra):
    return {"spark.driver.memory": "8g", **extra}


class _FakeBuilder:
    """Records its conf and the SPARK_CONF_DIR that getOrCreate sees, and
    puts up ``gateway`` as the launched one."""

    def __init__(self, conf, gateway=None):
        self.conf = dict(conf)
        self.gateway = gateway
        self.conf_dir_at_launch = "unset"

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        self.conf_dir_at_launch = os.environ.get("SPARK_CONF_DIR")
        if self.gateway is not None:
            SparkContext._gateway = self.gateway  # the home fixture restores it
        return self


def _exits(code):
    """A process that, like the gateway JVM, exits at the end of its stdin."""
    return subprocess.Popen(
        [sys.executable, "-c", f"import sys; sys.stdin.read(); sys.exit({code})"],
        stdin=subprocess.PIPE,
    )


def _dead_pid():
    proc = subprocess.Popen([sys.executable, "-c", "pass"])
    proc.wait(timeout=60)
    return proc.pid


def test_cpus_counts_the_affinity_mask(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1}, raising=False)
    assert session._cpus() == 2


def test_merged_java_options_keep_the_callers_tokens(home, monkeypatch):
    registered = []
    monkeypatch.setattr(session.atexit, "register", lambda *a: registered.append(a))
    caller = "-Djava.io.tmpdir=/x/tmp -XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch"
    conf = _conf(**{"spark.driver.extraJavaOptions": caller})
    jvm = _exits(0)
    builder = _FakeBuilder(conf, gateway=types.SimpleNamespace(proc=jvm))
    session._start(builder, conf)
    options = builder.conf["spark.driver.extraJavaOptions"].split()
    assert options[:4] == caller.split()
    assert "-Xlog:all=warning:stderr" in options
    key = session._archive_key(conf, str(home))
    partial = os.path.join(session._cache_dir(), f"{key}.{os.getpid()}.part")
    assert f"-XX:ArchiveClassesAtExit={partial}" in options
    # the empty conf directory for the launch only
    assert builder.conf_dir_at_launch == os.path.join(session._cache_dir(), "conf")
    assert "SPARK_CONF_DIR" not in os.environ
    assert [(proc, launch.partial) for _, proc, launch in registered] == [(jvm, partial)]
    # the JVM exits while this process lives on: its dump is published then
    with open(partial, "wb") as f:
        f.write(b"archive")
    jvm.stdin.close()
    jvm.wait(timeout=60)
    archive = registered[0][2].archive
    for _ in range(100):
        if os.path.exists(archive):
            break
        time.sleep(0.05)
    assert os.path.exists(archive) and not os.path.exists(partial)


def test_conf_dir_with_a_non_template_file_gives_a_plain_start(home, tmp_path, monkeypatch):
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text("spark.foo bar\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf_dir))
    conf = _conf(**{"spark.driver.extraJavaOptions": "-Dkeep=1"})
    builder = _FakeBuilder(conf)
    session._start(builder, conf)
    options = builder.conf["spark.driver.extraJavaOptions"]
    assert "SharedArchiveFile" not in options and "ArchiveClassesAtExit" not in options
    assert options.startswith("-Dkeep=1 ")
    assert builder.conf_dir_at_launch == str(conf_dir)
    assert os.environ["SPARK_CONF_DIR"] == str(conf_dir)


def test_archive_key_follows_jar_mtime_and_jvm_options(home):
    key = session._archive_key(_conf(), str(home))
    jar = home / "jars" / "spark-core.jar"
    st = jar.stat()
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    moved = session._archive_key(_conf(), str(home))
    assert moved != key
    assert session._archive_key(_conf(**{"spark.driver.extraJavaOptions": "-XX:+UseParallelGC"}),
                                str(home)) != moved
    assert session._archive_key(_conf(**{"spark.driver.memory": "64g"}), str(home)) != moved
    # what the JVM does not check leaves the key as it is: the job, the
    # tests and the benchmark start with other heaps and properties
    unchecked = _conf(**{"spark.driver.memory": "2g", "spark.driver.extraJavaOptions":
                         "-Djava.io.tmpdir=/x -Xms2g -XX:+AlwaysPreTouch -XX:-UsePerfData"})
    assert session._archive_key(unchecked, str(home)) == moved


def test_live_session_gets_no_archive_work(home, monkeypatch):
    monkeypatch.setattr(SparkContext, "_gateway", object())

    def plan(conf):
        raise AssertionError("planned a launch with a gateway up")

    monkeypatch.setattr(session, "_plan_launch", plan)
    conf = _conf(**{"spark.driver.extraJavaOptions": "-Dkeep=1"})
    builder = _FakeBuilder(conf)
    session._start(builder, conf)
    assert builder.conf["spark.driver.extraJavaOptions"] == "-Dkeep=1"
    assert not os.path.exists(session._cache_dir())


def test_partial_of_a_dead_writer_is_neither_published_nor_used(home):
    key = session._archive_key(_conf(), str(home))
    session._plan_launch(_conf())  # creates the cache
    dead = os.path.join(session._cache_dir(), f"{key}.{_dead_pid()}.part")
    live = os.path.join(session._cache_dir(), f"{key}.{os.getppid()}.part")
    for path in (dead, live):
        with open(path, "wb") as f:
            f.write(b"half an archive")
    launch = session._plan_launch(_conf())
    assert launch.flag == f"-XX:ArchiveClassesAtExit={launch.partial}"
    assert launch.partial.endswith(f".{os.getpid()}.part")
    assert not os.path.exists(dead)
    assert os.path.exists(live)  # its writer may still publish it
    assert not os.path.exists(launch.archive)


def test_failed_dump_is_not_retried(home):
    launch = session._plan_launch(_conf())
    with open(launch.partial, "wb") as f:
        f.write(b"half an archive")
    session._publish(_exits(1), launch)
    assert not os.path.exists(launch.partial) and not os.path.exists(launch.archive)
    assert session._plan_launch(_conf()) == session._Launch()
    # a killed JVM is not a failed dump: a later start builds again
    other = _conf(**{"spark.driver.extraJavaOptions": "-XX:+UseParallelGC"})
    launch = session._plan_launch(other)
    proc = _exits(0)
    proc.kill()
    session._publish(proc, launch)
    assert session._plan_launch(other).partial == launch.partial


def test_cache_keeps_one_archive_per_key(home):
    first = session._plan_launch(_conf())
    second = first.partial.replace(f".{os.getpid()}.", f".{os.getppid()}.")
    for path, body in ((first.partial, b"first"), (second, b"second")):
        with open(path, "wb") as f:
            f.write(body)
    session._publish(_exits(0), first)
    session._publish(_exits(0), session._Launch(first.flag, first.conf_dir, second, first.archive))
    with open(first.archive, "rb") as f:
        assert f.read() == b"second"
    stale = first.partial.replace(f".{os.getpid()}.", f".{_dead_pid()}.")
    open(stale, "w").close()
    used = session._plan_launch(_conf())
    assert used.flag == f"-XX:SharedArchiveFile={first.archive}" and used.partial is None
    left = sorted(os.listdir(session._cache_dir()))
    assert left == sorted(["conf", os.path.basename(first.archive)])


def test_publishing_an_archive_deletes_other_keys_archives(home):
    """A published archive replaces the archives and failure marks of every
    other key; partial files and the conf directory stay, and a file the
    caller still has open (as a JVM maps its archive) stays readable."""
    launch = session._plan_launch(_conf())
    cache = session._cache_dir()
    others = [os.path.join(cache, n) for n in ("0ld.jsa", "0ther.failed")]
    live_partial = os.path.join(cache, f"0ld.{os.getppid()}.part")
    for path in others + [launch.partial, live_partial]:
        with open(path, "wb") as f:
            f.write(b"archive")
    with open(others[0], "rb") as mapped:
        session._publish(_exits(0), launch)
        assert mapped.read() == b"archive"
    left = sorted(os.listdir(cache))
    assert left == sorted(["conf", os.path.basename(launch.archive), os.path.basename(live_partial)])


_MAPPED = """
import os
from megalista_spark.session import get_spark
spark = get_spark()
pid = spark.sparkContext._gateway.proc.pid
with open(f"/proc/{pid}/maps") as f:
    print(any(line.rstrip().endswith(os.environ["ARCHIVE"]) for line in f))
"""


@pytest.mark.skipif(not os.path.exists("/proc/self/maps"), reason="needs /proc/<pid>/maps")
def test_archive_is_built_by_one_process_and_mapped_by_the_next(tmp_path):
    """The first process dumps and publishes the archive and keeps its stdout
    for its JSON summary; the second process's JVM maps that archive."""
    src = tmp_path / "conv"
    src.mkdir()
    (src / "part-0.csv").write_text(
        "gclid,time,amount\n" + "".join(f"g{i},2024-03-01T12:00:00.000000,10.0\n" for i in range(7))
    )
    cfg = tmp_path / "cfg.json"
    cfg.write_text(json.dumps({
        "GoogleAdsAccountId": "123-456-7890",
        "Sources": [{"Name": "conv", "Type": "FILE", "FileType": "CSV", "Path": str(src)}],
        "Destinations": [{"Name": "oc", "Type": "ADS_OFFLINE_CONVERSION",
                          "Metadata": ["conv_name"]}],
        "Connections": [{"Enabled": True, "Source": "conv", "Destination": "oc"}],
    }))
    env = {**os.environ, "XDG_CACHE_HOME": str(tmp_path / "xdg"), "SPARK_GRAFT_CPUS": "2",
           "SPARK_DRIVER_MEMORY": "1g",
           "PYTHONPATH": os.pathsep.join(p for p in (_REPO, os.environ.get("PYTHONPATH")) if p)}
    cache = tmp_path / "xdg" / "megalista_spark"
    try:
        job = subprocess.run(
            [sys.executable, "-m", "megalista_spark", "--config", str(cfg), "--dry-run"],
            env=env, cwd=tmp_path, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
            text=True, timeout=600,
        )
        assert job.returncode == 0, job.stderr[-3000:]
        assert json.loads(job.stdout)[0]["rows_uploaded"] == 7
        archives = [p for p in os.listdir(cache) if p.endswith(".jsa")]
        assert len(archives) == 1, os.listdir(cache)
        env["ARCHIVE"] = str(cache / archives[0])
        mapped = subprocess.run(
            [sys.executable, "-c", _MAPPED], env=env, cwd=tmp_path,
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600,
        )
        assert mapped.returncode == 0, mapped.stderr[-3000:]
        assert mapped.stdout.split() == ["True"], mapped.stderr[-3000:]
    finally:
        shutil.rmtree(cache, ignore_errors=True)


class _FakeContext:
    """A SparkContext with a master and a JVM whose Class.forName records
    the names it is asked for and then runs ``then`` (wait, raise)."""

    def __init__(self, master, then=lambda: None):
        self.master = master
        self.loaded = []

        def for_name(name):
            self.loaded.append(name)
            then()

        lang = types.SimpleNamespace(Class=types.SimpleNamespace(forName=for_name))
        self._jvm = types.SimpleNamespace(java=types.SimpleNamespace(lang=lang))


class _ContextBuilder(_FakeBuilder):
    """A builder whose getOrCreate puts up ``context`` as the active one."""

    def __init__(self, conf, context):
        super().__init__(conf)
        self.context = context

    def getOrCreate(self):
        SparkContext._active_spark_context = self.context  # the home fixture restores it
        return self


def _case_mapping_threads():
    return [t for t in threading.enumerate() if t.name == "case-mapping-init"]


def test_new_local_context_initializes_case_mapping_on_one_daemon_thread(home, monkeypatch):
    monkeypatch.setattr(SparkContext, "_gateway", object())  # as under spark-submit
    release = threading.Event()
    context = _FakeContext("local[2]", then=lambda: release.wait(60))
    before = _case_mapping_threads()
    session._start(_ContextBuilder(_conf(), context), _conf())
    started = [t for t in _case_mapping_threads() if t not in before]
    release.set()
    assert len(started) == 1 and started[0].daemon
    started[0].join(60)
    assert context.loaded == [session._CASE_MAPPING_CLASS]
    # a second call finds the context live and starts nothing
    session._start(_ContextBuilder(_conf(), context), _conf())
    assert context.loaded == [session._CASE_MAPPING_CLASS]
    assert [t for t in _case_mapping_threads() if t not in before] == []


def test_cluster_master_gets_no_case_mapping_thread(home, monkeypatch):
    """On a cluster the executors run lower(), not the driver."""
    monkeypatch.setattr(SparkContext, "_gateway", object())
    context = _FakeContext("yarn")
    before = _case_mapping_threads()
    session._start(_ContextBuilder(_conf(), context), _conf())
    assert [t for t in _case_mapping_threads() if t not in before] == []
    assert context.loaded == []


def _initialize_quietly(sc, capfd):
    """Run the initializing thread to its end; assert that it raised nothing
    (an uncaught exception goes to threading.excepthook) and printed
    nothing."""
    capfd.readouterr()
    hooked = []
    previous, threading.excepthook = threading.excepthook, hooked.append
    try:
        thread = session._initialize_case_mapping(sc)
        thread.join(60)
    finally:
        threading.excepthook = previous
    assert not thread.is_alive()
    assert hooked == []
    assert capfd.readouterr().err == ""


@pytest.mark.parametrize("error", [Py4JNetworkError("Answer from Java side is empty"),
                                   Py4JError("gateway is shutting down"), AttributeError("_jvm")])
def test_case_mapping_failure_is_quiet(error, capfd):
    def fail():
        raise error

    _initialize_quietly(_FakeContext("local[2]", then=fail), capfd)


def test_unknown_case_mapping_class_is_quiet(spark, monkeypatch, capfd):
    """A later Spark may rename the class: the JVM's ClassNotFoundException
    goes nowhere."""
    monkeypatch.setattr(session, "_CASE_MAPPING_CLASS", "org.example.NoSuchClass")
    with pytest.raises(Py4JError):
        spark.sparkContext._jvm.java.lang.Class.forName(session._CASE_MAPPING_CLASS)
    _initialize_quietly(spark.sparkContext, capfd)


_FRESH = """
import io, json, sys, threading
from pyspark import SparkContext
from megalista_spark.session import get_spark

def named():
    return [t for t in threading.enumerate() if t.name == "case-mapping-init"]

spark = get_spark()
err, sys.stderr = sys.stderr, io.StringIO()
first = named()
get_spark()
second = [t for t in named() if t not in first]
out = {"master": spark.sparkContext.master, "threads": len(first),
       "daemon": all(t.daemon for t in first), "second": len(second),
       "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
       "min_partitions": spark.conf.get("spark.sql.files.minPartitionNum", None)}
if sys.argv[1:] == ["stop"]:
    # the gateway goes away under the running thread
    out["alive_at_stop"] = first[0].is_alive()
    proc = SparkContext._gateway.proc
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=120)
for t in first:
    t.join(120)
out["stderr"] = sys.stderr.getvalue()
print(json.dumps(out))
"""


def _run_fresh(tmp_path, launcher, script_args=(), **env):
    """Run _FRESH in a new process started by ``launcher``; its JSON line."""
    script = tmp_path / "fresh.py"
    script.write_text(_FRESH)
    env = {**os.environ, "SPARK_DRIVER_MEMORY": "1g", "PYSPARK_PYTHON": sys.executable, **env,
           "PYTHONPATH": os.pathsep.join(p for p in (_REPO, os.environ.get("PYTHONPATH")) if p)}
    job = subprocess.run([*launcher, str(script), *script_args], env=env, cwd=tmp_path,
                         stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)
    assert job.returncode == 0, job.stderr[-3000:]
    return json.loads(job.stdout.strip().splitlines()[-1])


def test_fresh_session_initializes_case_mapping_then_survives_a_stopped_gateway(tmp_path):
    """A fresh process: its new local session starts one daemon thread, a
    second get_spark starts none, and stopping the gateway while the thread
    waits on it prints nothing."""
    conf = tmp_path / "conf"  # a plain start: no archive work in this test
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("# empty\n")
    out = _run_fresh(tmp_path, [sys.executable], ["stop"], SPARK_GRAFT_CPUS="2",
                     SPARK_CONF_DIR=str(conf))
    assert out == {"master": "local[2]", "threads": 1, "daemon": True, "second": 0,
                   "shuffle_partitions": "2", "min_partitions": None,
                   "alive_at_stop": True, "stderr": ""}


@pytest.mark.skipif(not os.path.exists(os.path.join(session._find_spark_home(), "bin", "spark-submit")),
                    reason="needs spark-submit")
def test_spark_submit_master_is_kept(tmp_path):
    """get_spark(master=None) keeps spark-submit's master, not local[<cpus>],
    and the shuffle partitions spark-submit set, not <cpus>; the driver runs
    the tasks under that master, so the thread starts there too."""
    submit = os.path.join(session._find_spark_home(), "bin", "spark-submit")
    out = _run_fresh(tmp_path, [submit, "--master", "local[2]",
                                "--conf", "spark.sql.shuffle.partitions=7"],
                     SPARK_GRAFT_CPUS="3", PYSPARK_DRIVER_PYTHON=sys.executable)
    assert out == {"master": "local[2]", "threads": 1, "daemon": True, "second": 0,
                   "shuffle_partitions": "7", "min_partitions": None, "stderr": ""}


@pytest.mark.skipif(not os.path.exists(os.path.join(session._find_spark_home(), "bin", "spark-submit")),
                    reason="needs spark-submit")
def test_spark_submit_without_shuffle_conf_gets_sparks_default(tmp_path):
    """Under spark-submit the driver host's CPU count sizes nothing: a job
    that sets no ``spark.sql.shuffle.partitions`` gets Spark's default
    (200, which AQE coalesces), not SPARK_GRAFT_CPUS."""
    submit = os.path.join(session._find_spark_home(), "bin", "spark-submit")
    out = _run_fresh(tmp_path, [submit, "--master", "local[2]"],
                     SPARK_GRAFT_CPUS="3", PYSPARK_DRIVER_PYTHON=sys.executable)
    assert (out["master"], out["shuffle_partitions"]) == ("local[2]", "200")

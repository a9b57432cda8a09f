"""Driver JVM start-up: the class-data-sharing archive that `get_spark`
builds once and starts from afterwards, the flags it launches the JVM with,
and the core count it sizes the session by.

All but the last test run no JVM: they drive `_plan_launch`, `_publish` and
`_start` against a fake Spark home, a cache under `tmp_path` and a fake
session builder. The last one starts two fresh processes in turn."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
import types

import pytest
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

"""End-to-end pipeline runs with mock transports: read-once-per-source,
transactional idempotency, error isolation, exit codes, run summary."""

from __future__ import annotations

import json
import os
import re
import time
import uuid

import pytest

from megalista_spark.models.execution import DestinationType, TransactionalType
from megalista_spark.pipeline import Pipeline, run_from_config
from megalista_spark.sinks.transports import MockTransport, Transport, TransportError
from megalista_spark.sources.data_source import get_data_source


def write_config(tmp_path, src_path, connections):
    cfg = {
        "GoogleAdsAccountId": "123",
        "Sources": [
            {"Name": "conv", "Type": "FILE", "FileType": "PARQUET", "Path": src_path}
        ],
        "Destinations": [
            {"Name": "oci", "Type": "ADS_OFFLINE_CONVERSION", "Metadata": ["act"]},
            {"Name": "cm", "Type": "ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD", "Metadata": []},
        ],
        "Connections": connections,
    }
    p = tmp_path / "config.json"
    p.write_text(json.dumps(cfg))
    return str(p)


@pytest.fixture()
def conversions_path(spark, tmp_path):
    path = str(tmp_path / "conversions")
    rows = [
        (f"g{i}", f"2020-04-09T14:13:{i % 60:02d}.000000", str(float(i)), f"u{i}@x.com", "+55")
        for i in range(20)
    ]
    spark.createDataFrame(
        rows, ["gclid", "time", "amount", "email", "phone"]
    ).write.mode("overwrite").parquet(path)
    return path


def test_e2e_idempotent_run(spark, tmp_path, conversions_path):
    cfg = write_config(
        tmp_path,
        conversions_path,
        [{"Enabled": True, "Source": "conv", "Destination": "oci"}],
    )
    r1 = run_from_config(spark, cfg, lambda e: MockTransport())
    assert r1.exit_code == 0
    assert r1.branches[0].rows_read == 20
    assert r1.branches[0].rows_uploaded == 20

    # second run: everything already uploaded → nothing read past dedup
    r2 = run_from_config(spark, cfg, lambda e: MockTransport())
    assert r2.exit_code == 0
    assert r2.branches[0].rows_read == 0
    assert r2.branches[0].rows_uploaded == 0


def test_fanout_two_destinations_shared_source(spark, tmp_path, conversions_path):
    cfg = write_config(
        tmp_path,
        conversions_path,
        [
            {"Enabled": True, "Source": "conv", "Destination": "oci"},
            {"Enabled": True, "Source": "conv", "Destination": "cm"},
        ],
    )
    r = run_from_config(spark, cfg, lambda e: MockTransport())
    assert r.exit_code == 0
    assert len(r.branches) == 2
    summary = r.summary()
    assert {s["destination"] for s in summary} == {"oci", "cm"}
    # customer-match branch hashed its PII: 20 rows, not deduped
    cm_branch = next(b for b in r.branches if b.execution.destination.name == "cm")
    assert cm_branch.rows_uploaded == 20


class AlwaysFail(Transport):
    def send(self, payload, context):
        raise TransportError("api down")


def test_error_isolation_and_exit_code(spark, tmp_path, conversions_path):
    cfg = write_config(
        tmp_path,
        conversions_path,
        [
            {"Enabled": True, "Source": "conv", "Destination": "oci"},
            {"Enabled": True, "Source": "conv", "Destination": "cm"},
        ],
    )

    def factory(execution):
        if execution.destination.name == "oci":
            return AlwaysFail()
        return MockTransport()

    r = run_from_config(spark, cfg, factory)
    # the failing branch records errors; the other branch still uploads
    assert r.exit_code == 1
    by_name = {b.execution.destination.name: b for b in r.branches}
    assert not by_name["oci"].ok and by_name["oci"].rows_uploaded == 0
    assert by_name["cm"].ok and by_name["cm"].rows_uploaded == 20
    # failed rows were NOT recorded in the control table → next run retries
    r2 = run_from_config(spark, cfg, lambda e: MockTransport())
    assert by_name_rows(r2, "oci").rows_read == 20


def by_name_rows(result, name):
    return next(b for b in result.branches if b.execution.destination.name == name)


def test_missing_schema_column_fails_branch_only(spark, tmp_path):
    path = str(tmp_path / "bad_src")
    spark.createDataFrame([("g1",)], ["gclid"]).write.parquet(path)  # no time/amount
    cfg = write_config(
        tmp_path, path, [{"Enabled": True, "Source": "conv", "Destination": "oci"}]
    )
    r = run_from_config(spark, cfg, lambda e: MockTransport())
    assert r.exit_code == 1
    assert "missing required" in r.branches[0].errors[0]


def test_error_notifier_called_with_failed_branches(spark, tmp_path, conversions_path):
    from megalista_spark.notifiers import GmailErrorNotifier

    cfg = write_config(
        tmp_path,
        conversions_path,
        [{"Enabled": True, "Source": "conv", "Destination": "oci"}],
    )
    sent: list[tuple[str, str]] = []
    notifier = GmailErrorNotifier("ops@example.com", send=lambda to, body: sent.append((to, body)))
    r = run_from_config(spark, cfg, lambda e: AlwaysFail(), error_notifier=notifier)
    assert r.exit_code == 1
    assert len(sent) == 1
    assert sent[0][0] == "ops@example.com"
    assert "oci" in sent[0][1]

    # successful run → no mail
    sent.clear()
    r2 = run_from_config(spark, cfg, lambda e: MockTransport(), error_notifier=notifier)
    assert r2.exit_code == 0 and sent == []


def test_calls_branch_rerun_uploads_nothing(spark, tmp_path):
    """ADS_OFFLINE_CONVERSION_CALLS dedups on ``uuid``: its schema keeps the
    key, so the second run's anti-join drops every row."""
    path = str(tmp_path / "calls")
    spark.createDataFrame(
        [(f"u{i}", f"+1555000{i}", "2024-01-01T10:00:00", "2024-01-01T11:00:00", "1.5")
         for i in range(10)],
        ["uuid", "caller_id", "call_time", "time", "amount"],
    ).write.parquet(path)
    cfg = {
        "GoogleAdsAccountId": "123",
        "Sources": [{"Name": "calls", "Type": "FILE", "FileType": "PARQUET", "Path": path}],
        "Destinations": [
            {"Name": "c", "Type": "ADS_OFFLINE_CONVERSION_CALLS", "Metadata": ["act"]}
        ],
        "Connections": [{"Enabled": True, "Source": "calls", "Destination": "c"}],
    }
    p = tmp_path / "calls.json"
    p.write_text(json.dumps(cfg))
    r1 = run_from_config(spark, str(p), lambda e: MockTransport())
    assert r1.exit_code == 0, r1.branches[0].errors
    assert r1.branches[0].rows_uploaded == 10
    r2 = run_from_config(spark, str(p), lambda e: MockTransport())
    assert r2.exit_code == 0
    assert r2.branches[0].rows_uploaded == 0


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_run_releases_every_cache(spark, tmp_path, conversions_path):
    """A transactional and a non-transactional branch on one shared source:
    the run leaves no cache behind; each branch unpersists its upload."""
    cfg = write_config(
        tmp_path,
        conversions_path,
        [
            {"Enabled": True, "Source": "conv", "Destination": "oci"},
            {"Enabled": True, "Source": "conv", "Destination": "cm"},
        ],
    )
    before = _persistent_rdds(spark)
    r = run_from_config(spark, cfg, lambda e: MockTransport())
    assert r.exit_code == 0
    assert [b.rows_uploaded for b in r.branches] == [20, 20]
    assert _persistent_rdds(spark) == before


class CacheProbeTransport(Transport):
    """Accepts every row. Its ``before_run``, on the driver, appends to
    ``seen`` whether Spark's cache manager is empty."""

    def __init__(self, spark, seen: list):
        self.spark, self.seen = spark, seen

    def __getstate__(self):
        return {}  # the upload tasks need neither the session nor the record

    def send(self, payload, context):
        return payload

    def before_run(self, context):
        self.seen.append(self.spark._jsparkSession.sharedState().cacheManager().isEmpty())


def test_branches_plan_from_the_uncached_source_scan(spark, tmp_path, one_partition_source):
    """Two transactional branches on one source share its control table, so
    they run one after the other and no other upload's cache is live when
    each starts: both find nothing cached, as the shared source scan is not
    cached."""
    src = one_partition_source("conv")
    oci = DestinationType.ADS_OFFLINE_CONVERSION
    spark.catalog.clearCache()  # what earlier tests may have left cached
    seen: list = []
    r = Pipeline(
        spark,
        _executions([(src, "oci1", oci), (src, "oci2", oci)]),
        lambda e: CacheProbeTransport(spark, seen),
    ).run()
    assert r.exit_code == 0
    assert [b.rows_uploaded for b in r.branches] == [20, 0]
    assert seen == [True, True]


class KeyLogTransport(Transport):
    """Writes the gclid of every row it is sent to a new file under
    ``out_dir`` and rejects the gclids ending in 3."""

    def __init__(self, out_dir: str):
        self.out_dir = out_dir

    def send(self, payload, context):
        with open(os.path.join(self.out_dir, uuid.uuid4().hex), "w") as f:
            f.write("".join(r["gclid"] + "\n" for r in payload))
        return [r for r in payload if not r["gclid"].endswith("3")]


# Spark jobs of one transactional branch on a fresh control table: one
# infers the source's schema and one is the upload (an observed no-op write
# whose tasks also stage the accepted keys; the anti-join against the absent
# control table plans away). The keys are committed by rename, not by a
# Spark write. A re-added count, collect, shuffle, append job or second
# upload raises it.
BRANCH_JOBS = 2


def test_each_row_sent_once_and_keys_recorded_once(spark, tmp_path, conversions_path):
    cfg = write_config(
        tmp_path,
        conversions_path,
        [{"Enabled": True, "Source": "conv", "Destination": "oci"}],
    )
    sent_dir = tmp_path / "sent"
    sent_dir.mkdir()
    sc = spark.sparkContext
    group = f"exactly-once-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "one transactional branch")
    try:
        r = run_from_config(spark, cfg, lambda e: KeyLogTransport(str(sent_dir)))
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)

    sent = [k for p in sent_dir.iterdir() for k in p.read_text().split()]
    all_keys = [f"g{i}" for i in range(20)]
    accepted = [k for k in all_keys if not k.endswith("3")]
    assert sorted(sent) == sorted(all_keys)  # every row reaches send once
    branch = r.branches[0]
    assert branch.rows_read == 20
    assert branch.rows_uploaded == len(accepted) == 18
    ds = get_data_source(spark, branch.execution.source)
    control = ds.control_table(TransactionalType.GCLID_TIME).read()
    assert sorted(row["gclid"] for row in control.collect()) == sorted(accepted)
    assert len(jobs) <= BRANCH_JOBS, len(jobs)


def _control_files(control: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(root, name), control)
        for root, _, names in os.walk(control)
        for name in names
    )


def test_file_uri_control_table_commits_staged_keys(spark, tmp_path, conversions_path):
    """A ``file://`` source keeps its control table at a ``file://`` path.
    The upload tasks stage the accepted keys there and the commit moves them
    into the ``dt=`` partition of their one UTC timestamp, leaving no staged
    file behind; the next run uploads nothing."""
    import datetime as dt

    import pyarrow.parquet as pq

    cfg = write_config(
        tmp_path,
        "file://" + conversions_path,
        [{"Enabled": True, "Source": "conv", "Destination": "oci"}],
    )
    sent_dir = tmp_path / "sent"
    sent_dir.mkdir()
    r1 = run_from_config(spark, cfg, lambda e: KeyLogTransport(str(sent_dir)))
    assert r1.exit_code == 0 and r1.branches[0].rows_uploaded == 18

    control = conversions_path + "_uploaded"
    files = _control_files(control)
    assert files and all(re.fullmatch(r"dt=[\d-]+/part-[\w-]+\.parquet", f) for f in files), files
    keys, stamps = [], set()
    for f in files:
        t = pq.read_table(os.path.join(control, f))
        assert t.column_names == ["timestamp", "gclid", "time"]
        assert str(t.schema.field("timestamp").type) == "timestamp[us, tz=UTC]"
        keys += t.column("gclid").to_pylist()
        stamps |= set(t.column("timestamp").to_pylist())
    assert sorted(keys) == sorted(f"g{i}" for i in range(20) if i % 10 != 3)
    [stamp] = stamps
    assert {f.split("/")[0] for f in files} == {f"dt={stamp.astimezone(dt.timezone.utc).date()}"}

    r2 = run_from_config(spark, cfg, lambda e: KeyLogTransport(str(sent_dir)))
    assert (r2.branches[0].rows_read, r2.branches[0].rows_uploaded) == (2, 0)
    assert _control_files(control) == files


def test_control_table_pyarrow_cannot_open_fails_before_any_send(
    spark, tmp_path, conversions_path, monkeypatch
):
    """A control table at a location pyarrow cannot open fails its branch,
    naming the location, before any row reaches the transport."""
    from megalista_spark.sources.data_source import FileDataSource

    bad = f"ftp://localhost:1{conversions_path}_uploaded"
    monkeypatch.setattr(FileDataSource, "control_path", lambda self: bad)
    cfg = write_config(
        tmp_path,
        conversions_path,
        [{"Enabled": True, "Source": "conv", "Destination": "oci"}],
    )
    sent_dir = tmp_path / "sent"
    sent_dir.mkdir()
    r = run_from_config(spark, cfg, lambda e: KeyLogTransport(str(sent_dir)))
    assert r.exit_code == 1
    [error] = r.branches[0].errors
    assert bad in error and "pyarrow cannot open" in error, error
    assert list(sent_dir.iterdir()) == []


_RETRIED_UPLOAD = r'''
import json, os, sys, uuid

from pyspark import TaskContext

from megalista_spark.pipeline import run_from_config
from megalista_spark.session import get_spark
from megalista_spark.sinks.transports import Transport


class FailsAfterStaging(Transport):
    """Rejects the gclids ending in 3 and fails each task's first attempt in
    close(), after the task staged its keys. In mode "accept_none" a retry
    accepts nothing, as an API that rejects the resend as a duplicate would.
    Each send writes the gclids it was sent, and each close writes its task
    attempt and whether pandas is imported in its worker, to a new file
    under out_dir."""

    def __init__(self, out_dir, mode):
        self.out_dir = out_dir
        self.mode = mode

    def send(self, payload, context):
        with open(os.path.join(self.out_dir, "sent-" + uuid.uuid4().hex), "w") as f:
            f.write("".join(r["gclid"] + "\n" for r in payload))
        if self.mode == "accept_none" and TaskContext.get().attemptNumber() > 0:
            return []
        return [r for r in payload if not r["gclid"].endswith("3")]

    def close(self, context):
        tc = TaskContext.get()
        with open(os.path.join(self.out_dir, "close-" + uuid.uuid4().hex), "w") as f:
            json.dump({"partition": tc.partitionId(), "attempt": tc.attemptNumber(),
                       "pandas": "pandas" in sys.modules}, f)
        if tc.attemptNumber() == 0:
            raise RuntimeError("first attempt fails after staging its keys")


spark = get_spark(master="local[2,2]")
r = run_from_config(spark, sys.argv[1], lambda e: FailsAfterStaging(sys.argv[2], sys.argv[3]))
print(json.dumps({"uploaded": r.branches[0].rows_uploaded, "errors": r.branches[0].errors}))
'''


def _run_retried_upload(tmp_path, conversions_path, mode):
    """Runs ``_RETRIED_UPLOAD`` in ``mode`` on a config that uploads the
    conversions fixture; returns the finished process and its out dir."""
    import subprocess
    import sys

    cfg = write_config(
        tmp_path,
        conversions_path,
        [{"Enabled": True, "Source": "conv", "Destination": "oci"}],
    )
    out = tmp_path / "out"
    out.mkdir()
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2", "SPARK_DRIVER_MEMORY": "1g"}
    job = subprocess.run(
        [sys.executable, "-c", _RETRIED_UPLOAD, cfg, str(out), mode], env=env, cwd=tmp_path,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600,
    )
    return job, out


def test_retried_upload_task_commits_each_key_once(tmp_path, conversions_path):
    """On ``local[2,2]`` every upload task fails its first attempt after
    staging its keys. The control table then holds each accepted key once:
    each partition's retry completes the same key file name, replacing the
    failed attempt's file, and the partial files are deleted with the
    staging directory. No upload worker imports pandas. (The retry sends
    its rows again; see ROADMAP, "Exactly-once under failure".)"""
    import pyarrow.parquet as pq

    job, out = _run_retried_upload(tmp_path, conversions_path, "resend")
    assert job.returncode == 0, job.stderr[-3000:]
    accepted = sorted(f"g{i}" for i in range(20) if i % 10 != 3)
    assert json.loads(job.stdout.splitlines()[-1]) == {"uploaded": len(accepted), "errors": []}

    closes = [json.loads(p.read_text()) for p in out.glob("close-*")]
    partitions = {c["partition"] for c in closes}
    assert sorted((c["partition"], c["attempt"]) for c in closes) == sorted(
        (p, a) for p in partitions for a in (0, 1)
    )
    assert not any(c["pandas"] for c in closes), closes
    sent = {k for p in out.glob("sent-*") for k in p.read_text().split()}
    assert sent == {f"g{i}" for i in range(20)}

    control = conversions_path + "_uploaded"
    files = _control_files(control)
    assert all(f.startswith("dt=") for f in files), files
    keys = [k for f in files for k in pq.read_table(os.path.join(control, f)).column("gclid").to_pylist()]
    assert sorted(keys) == accepted


def test_retry_accepting_nothing_keeps_first_attempts_keys(tmp_path, conversions_path):
    """As above, but each retry gets nothing accepted, as when the API
    rejects the resend as a duplicate. The first attempts sent every chunk
    and completed their key files, which no retry replaces, so the control
    table holds their 18 accepted keys, each once. The branch reports 0
    uploaded: its count comes from the attempts that succeeded."""
    import pyarrow.parquet as pq

    job, out = _run_retried_upload(tmp_path, conversions_path, "accept_none")
    assert job.returncode == 0, job.stderr[-3000:]
    assert json.loads(job.stdout.splitlines()[-1]) == {"uploaded": 0, "errors": []}
    closes = [json.loads(p.read_text()) for p in out.glob("close-*")]
    assert {c["attempt"] for c in closes} == {0, 1}

    control = conversions_path + "_uploaded"
    files = _control_files(control)
    assert all(f.startswith("dt=") for f in files), files
    keys = [k for f in files for k in pq.read_table(os.path.join(control, f)).column("gclid").to_pylist()]
    assert sorted(keys) == sorted(f"g{i}" for i in range(20) if i % 10 != 3)


class PiiLogTransport(Transport):
    """Writes the (hashed_email, hashed_phone_number) of every row it is
    sent to a new file under ``out_dir``."""

    def __init__(self, out_dir: str):
        self.out_dir = out_dir

    def send(self, payload, context):
        with open(os.path.join(self.out_dir, uuid.uuid4().hex), "w") as f:
            json.dump([[r["hashed_email"], r["hashed_phone_number"]] for r in payload], f)
        return payload


def test_prehashed_customer_match_is_not_hashed_again(spark, tmp_path, conversions_path):
    """Destination metadata[2] == 'false' marks the rows as already hashed
    (SURVEY F3): they go out as hash_email/hash_field give them with
    hashing off; an absent flag still hashes."""
    from pyspark.sql import functions as F

    from megalista_spark.functions.hashing import hash_email, hash_field
    from megalista_spark.models.execution import (
        AccountConfig,
        Destination,
        Execution,
        Source,
        SourceType,
    )

    source = Source("conv", SourceType.FILE, ("PARQUET", conversions_path))
    cm = DestinationType.ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD
    executions = [
        Execution(AccountConfig("123"), source, Destination(name, cm, md))
        for name, md in [("prehashed", ("list", "ADD", "FALSE ")), ("hash", ("list", "ADD"))]
    ]
    for e in executions:
        (tmp_path / e.destination.name).mkdir()
    r = Pipeline(
        spark, executions, lambda e: PiiLogTransport(str(tmp_path / e.destination.name))
    ).run()
    assert r.exit_code == 0

    src = spark.read.parquet(conversions_path)

    def expected(enabled):
        return sorted(
            [row[0], row[1]]
            for row in src.select(
                hash_email(F.col("email"), enabled), hash_field(F.col("phone"), enabled)
            ).collect()
        )

    def sent(name):
        return sorted(x for p in (tmp_path / name).iterdir() for x in json.loads(p.read_text()))

    assert sent("prehashed") == expected(False)
    assert sent("prehashed")[0] == ["u0@x.com", "+55"]
    assert sent("hash") == expected(True)


def _executions(pairs):
    """Executions for (source, destination name, destination type) triples,
    where each source is a ``(name, parquet path)`` pair."""
    from megalista_spark.models.execution import (
        AccountConfig,
        Destination,
        Execution,
        Source,
        SourceType,
    )

    return [
        Execution(
            AccountConfig("123"),
            Source(src, SourceType.FILE, ("PARQUET", path)),
            Destination(dest, dtype, ("act",)),
        )
        for (src, path), dest, dtype in pairs
    ]


@pytest.fixture()
def one_partition_source(spark, tmp_path):
    """The conversions rows in one parquet file, so each branch uploads in
    one task and branches that run at once hold one task slot each."""

    def make(name):
        path = str(tmp_path / name)
        rows = [(f"g{i}", f"2020-04-09T14:13:{i:02d}.000000", str(float(i)), f"u{i}@x.com", "+55")
                for i in range(20)]
        spark.createDataFrame(
            rows, ["gclid", "time", "amount", "email", "phone"]
        ).coalesce(1).write.parquet(path)
        return name, path

    return make


def test_chain_rule_joins_shared_control_tables_and_destinations():
    from megalista_spark.pipeline import _chain_keys, _chains

    a, b = ("a", "/a"), ("b", "/b")
    oci, cm = DestinationType.ADS_OFFLINE_CONVERSION, DestinationType.ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD
    executions = _executions([
        (a, "oci1", oci),  # 0: a's control table
        (a, "cm1", cm),    # 1: alone
        (a, "oci2", oci),  # 2: a's control table → chained with 0
        (b, "oci1", oci),  # 3: destination oci1 → chained with 0
        (b, "cm2", cm),    # 4: alone, although b is in the chain above
        (b, "cm1", cm),    # 5: destination cm1 → chained with 1
    ])
    keys = {i: _chain_keys(e) for i, e in enumerate(executions)}
    assert _chains(keys) == [[0, 2, 3], [1, 5], [4]]


class BarrierTransport(Transport):
    """On its first send, marks its destination under ``marker_dir`` and
    waits up to 20 s for ``expect`` markers; raises if they do not all
    appear, so it passes only when the branches run at once. Then it
    sleeps ``delay`` seconds and accepts every row."""

    def __init__(self, marker_dir: str, name: str, expect: int, delay: float = 0.0):
        self.marker_dir, self.name, self.expect, self.delay = marker_dir, name, expect, delay
        self.met = None

    def send(self, payload, context):
        if self.met is None:
            open(os.path.join(self.marker_dir, self.name), "w").close()
            deadline = time.monotonic() + 20
            while len(os.listdir(self.marker_dir)) < self.expect and time.monotonic() < deadline:
                time.sleep(0.05)
            self.met = len(os.listdir(self.marker_dir)) >= self.expect
            time.sleep(self.delay)
        if not self.met:
            raise TransportError("the branches did not run at once")
        return payload


def test_independent_branches_run_at_once(spark, tmp_path, one_partition_source):
    """Three branches on distinct non-transactional destinations upload at
    once; the slowest, first, branch still comes back first."""
    if spark.sparkContext.defaultParallelism < 3:
        pytest.skip("needs 3 task slots to run the 3 branches at once")
    src = one_partition_source("conv")
    cm = DestinationType.ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD
    names = ["slow", "b", "c"]
    markers = tmp_path / "markers"
    markers.mkdir()
    before = _persistent_rdds(spark)
    r = Pipeline(
        spark,
        _executions([(src, n, cm) for n in names]),
        lambda e: BarrierTransport(
            str(markers), e.destination.name, 3, 1.0 if e.destination.name == "slow" else 0.0
        ),
    ).run()
    assert [b.errors for b in r.branches] == [[], [], []]
    assert [b.execution.destination.name for b in r.branches] == names
    assert [b.rows_uploaded for b in r.branches] == [20, 20, 20]
    assert r.branches[0].seconds > max(b.seconds for b in r.branches[1:])
    assert _persistent_rdds(spark) == before


class IntervalTransport(Transport):
    """Writes a (start, end) pair of wall times to a new file under
    ``out_dir`` for ``before_run`` (one instant) and for each chunk, which
    it holds ``hold`` seconds."""

    def __init__(self, out_dir: str, hold: float = 0.5):
        self.out_dir, self.hold = out_dir, hold

    def _span(self, start, end):
        with open(os.path.join(self.out_dir, uuid.uuid4().hex), "w") as f:
            json.dump([start, end], f)

    def before_run(self, context):
        now = time.time()
        self._span(now, now)

    def send(self, payload, context):
        start = time.time()
        time.sleep(self.hold)
        self._span(start, time.time())
        return payload


def _interval(out_dir):
    spans = [json.loads(p.read_text()) for p in out_dir.iterdir()]
    return min(s for s, _ in spans), max(e for _, e in spans)


def _run_intervals(spark, tmp_path, executions):
    """Runs ``executions`` with an IntervalTransport per branch; returns the
    result and each branch's (first start, last end)."""
    dirs = [tmp_path / f"spans{i}" for i in range(len(executions))]
    for d in dirs:
        d.mkdir()
    transports = {id(e): IntervalTransport(str(d)) for e, d in zip(executions, dirs)}
    r = Pipeline(spark, executions, lambda e: transports[id(e)]).run()
    return r, [_interval(d) for d in dirs]


def test_branches_sharing_a_control_table_run_in_order(spark, tmp_path, one_partition_source):
    """Two ADS_OFFLINE_CONVERSION destinations on one source share its
    control table: the second branch starts after the first ends and sees
    its append, so it uploads nothing, and each key is recorded once."""
    src = one_partition_source("conv")
    oci = DestinationType.ADS_OFFLINE_CONVERSION
    r, (first, second) = _run_intervals(
        spark, tmp_path, _executions([(src, "oci1", oci), (src, "oci2", oci)])
    )
    assert r.exit_code == 0
    assert [b.rows_uploaded for b in r.branches] == [20, 0]
    assert first[1] <= second[0]
    ds = get_data_source(spark, r.branches[0].execution.source)
    keys = [row["gclid"] for row in ds.control_table(TransactionalType.GCLID_TIME).read().collect()]
    assert sorted(keys) == sorted(f"g{i}" for i in range(20))


def test_branches_sharing_a_destination_run_in_order(spark, tmp_path, one_partition_source):
    """One destination fed by two sources: the branches use two control
    tables but one destination, so they do not overlap."""
    a, b = one_partition_source("a"), one_partition_source("b")
    oci = DestinationType.ADS_OFFLINE_CONVERSION
    r, (first, second) = _run_intervals(
        spark, tmp_path, _executions([(a, "oci", oci), (b, "oci", oci)])
    )
    assert r.exit_code == 0
    assert [b.rows_uploaded for b in r.branches] == [20, 20]
    assert first[1] <= second[0]


def test_run_logs_one_line_per_branch_and_per_run(spark, tmp_path, conversions_path, caplog):
    import logging

    cfg = write_config(
        tmp_path,
        conversions_path,
        [
            {"Enabled": True, "Source": "conv", "Destination": "oci"},
            {"Enabled": True, "Source": "conv", "Destination": "cm"},
        ],
    )
    caplog.set_level(logging.INFO, logger="megalista_spark.run")
    factory = lambda e: AlwaysFail() if e.destination.name == "cm" else MockTransport()  # noqa: E731
    r = run_from_config(spark, cfg, factory)
    lines = [json.loads(rec.getMessage()) for rec in caplog.records if rec.name == "megalista_spark.run"]
    branch_lines = sorted((x for x in lines if "destination" in x), key=lambda x: x["destination"])
    run_lines = [x for x in lines if "destination" not in x]
    by_name = {b.execution.destination.name: b for b in r.branches}
    cm_errors = by_name["cm"].errors
    assert [(x["source"], x["destination"], x["rows_read"], x["rows_uploaded"], x["errors"])
            for x in branch_lines] == [("conv", "cm", 20, 0, len(cm_errors)), ("conv", "oci", 20, 20, 0)]
    # one error record per failed chunk, naming its partition and row count
    chunks = [re.search(r"\(partition (\d+), chunk 1, (\d+) rows\)$", m).groups() for m in cm_errors]
    assert len({p for p, _ in chunks}) == len(chunks)
    assert sum(int(n) for _, n in chunks) == 20
    for x in branch_lines:
        assert x["seconds"] == round(by_name[x["destination"]].seconds, 3) > 0
    assert run_lines == [{"branches": 2, "failed_branches": 1, "seconds": round(r.seconds, 3)}]
    assert r.seconds >= max(b.seconds for b in r.branches)


def test_many_chains_fill_every_result_and_release_every_scan(spark, tmp_path, one_partition_source):
    """Nine independent branches over three shared sources on a pool capped
    at the task slots, with the interpreter switching threads as often as
    it can: every result lands in its config slot, and no branch leaves a
    cache behind."""
    import sys

    sources = [one_partition_source(f"s{i}") for i in range(3)]
    cm = DestinationType.ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD
    executions = _executions([(s, f"{s[0]}-cm{j}", cm) for s in sources for j in range(3)])
    before = _persistent_rdds(spark)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        r = Pipeline(spark, executions, lambda e: MockTransport()).run()
    finally:
        sys.setswitchinterval(interval)
    assert [b.execution for b in r.branches] == executions
    assert [b.rows_uploaded for b in r.branches] == [20] * 9
    assert _persistent_rdds(spark) == before

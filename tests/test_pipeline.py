"""End-to-end pipeline runs with mock transports: read-once-per-source,
transactional idempotency, error isolation, exit codes, run summary."""

from __future__ import annotations

import json
import os
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
    the run unpersists the shared scan and each branch's upload."""
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
# infers the source's schema, one is the upload (an observed no-op write;
# the anti-join against the absent control table plans away) and one is
# the control-table append. A re-added count, collect, shuffle or second
# upload raises it.
BRANCH_JOBS = 3


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

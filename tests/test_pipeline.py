"""End-to-end pipeline runs with mock transports: read-once-per-source,
transactional idempotency, error isolation, exit codes, run summary."""

from __future__ import annotations

import json

import pytest

from megalista_spark.models.execution import DestinationType
from megalista_spark.pipeline import Pipeline, run_from_config
from megalista_spark.sinks.transports import MockTransport, Transport, TransportError


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

"""Sheets/Firestore config parsing (injected fetchers) + CLI + eraser hook."""

from __future__ import annotations

import json

from megalista_spark.models.execution import AccountConfig, DestinationType, SourceType
from megalista_spark.sinks.executor import SinkExecutor
from megalista_spark.sinks.transports import MockTransport
from megalista_spark.sources.config_external import load_executions_from_sheet

ACCOUNT = AccountConfig(google_ads_account_id="123")


def test_sheet_config_only_yes_schedules():
    ranges = {
        "SourcesRange": [["src1", "FILE", "PARQUET", "/data/src1"]],
        "DestinationsRange": [["d1", "ADS_OFFLINE_CONVERSION", "action"]],
        "SchedulesRange": [
            ["YES", "src1", "d1"],
            ["NO", "src1", "d1"],
        ],
    }
    execs = load_executions_from_sheet(
        "sheet-id", ACCOUNT, fetch_values=lambda sid, rng: ranges[rng]
    )
    assert len(execs) == 1
    e = execs[0]
    assert e.source.source_type == SourceType.FILE
    assert e.source.path == "/data/src1"
    assert e.destination.destination_type == DestinationType.ADS_OFFLINE_CONVERSION


def test_cli_main(spark, tmp_path, capsys):
    from megalista_spark.__main__ import main

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("g1", "2020-04-09T14:13:55.000000", "1.5")], ["gclid", "time", "amount"]
    ).write.parquet(src)
    cfg = {
        "Sources": [{"Name": "s", "Type": "FILE", "FileType": "PARQUET", "Path": src}],
        "Destinations": [{"Name": "d", "Type": "ADS_OFFLINE_CONVERSION", "Metadata": []}],
        "Connections": [{"Enabled": True, "Source": "s", "Destination": "d"}],
    }
    cfg_path = tmp_path / "c.json"
    cfg_path.write_text(json.dumps(cfg))
    code = main(["--config", str(cfg_path), "--dry-run"])
    out = json.loads(capsys.readouterr().out)
    assert code == 0
    assert out[0]["rows_uploaded"] == 1


class EraseRecordingTransport(MockTransport):
    def __init__(self):
        super().__init__()
        self.erase_calls = 0

    def before_run(self, context):
        self.erase_calls += 1


def test_before_run_called_once(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], ["k"])
    t = EraseRecordingTransport()
    result = SinkExecutor(t, batch_size=2).run(df.repartition(4))
    assert result.success.count() == 10
    assert t.erase_calls == 1  # once per run, not per partition/chunk


def test_reference_sample_config_parses_unchanged():
    """A reference user's config.json loads as-is (switchability claim)."""
    import os

    sample = "/root/reference/cloud_config/configuration_sample.json"
    if not os.path.exists(sample):
        import pytest

        pytest.skip("reference not mounted")
    from megalista_spark.sources.config_json import load_executions_from_json

    execs = load_executions_from_json(sample)
    assert len(execs) == 2
    assert execs[0].destination.destination_type.value == "ADS_OFFLINE_CONVERSION"
    assert execs[0].source.path == "my_source_dataset.my_offline_conversions_table"
    assert execs[1].destination.metadata == ("GA_Property_ID", "1")


def test_sheet_account_config_with_profile_fallback():
    """reference spreadsheet_execution_source.py:47-59: named-cell account
    config; CampaignManagerProfileId absent -> CampaignManagerAccountId."""
    from megalista_spark.sources.config_external import (
        load_account_config_from_sheet,
    )

    cells = {
        "GoogleAdsAccountId": "123-456-7890",
        "GoogleAdsMCC": "TRUE",
        "AppId": "com.app",
        "GoogleAnalyticsAccountId": "UA-9",
        "CampaignManagerAccountId": "555",
    }
    acc = load_account_config_from_sheet("sheet1", lambda sid, rng: cells.get(rng))
    assert acc.google_ads_account_id == "1234567890"  # digits-filtered
    assert acc.mcc is True
    assert acc.campaign_manager_profile_id == "555"  # fallback range
    assert acc.app_id == "com.app"

    cells["CampaignManagerProfileId"] = "777"
    acc2 = load_account_config_from_sheet("sheet1", lambda sid, rng: cells.get(rng))
    assert acc2.campaign_manager_profile_id == "777"


def test_sheet_loader_reads_account_from_sheet():
    from megalista_spark.sources.config_external import (
        load_executions_from_sheet,
    )

    ranges = {
        "GoogleAdsAccountId": [["111-222"]],
        "GoogleAdsMCC": [["FALSE"]],
        "CampaignManagerAccountId": [["555"]],
        "SourcesRange": [["s1", "FILE", "csv", "/tmp/x.csv"]],
        "DestinationsRange": [["d1", "ADS_OFFLINE_CONVERSION", "conv"]],
        "SchedulesRange": [["YES", "s1", "d1"], ["NO", "s1", "d1"]],
    }

    def fetch(sid, rng):
        if rng not in ranges:
            raise KeyError(rng)
        return ranges[rng]

    execs = load_executions_from_sheet("sheet1", fetch_values=fetch)
    assert len(execs) == 1
    assert execs[0].account_config.google_ads_account_id == "111222"
    assert execs[0].account_config.mcc is False
    # no CampaignManagerProfileId range: the reference falls back to
    # CampaignManagerAccountId
    assert execs[0].account_config.campaign_manager_profile_id == "555"


def test_firestore_reference_layout():
    """reference firestore_execution_source.py:41-137: account_config doc,
    bq_dataset/bq_table sources, per-type metadata with N/A padding."""
    from megalista_spark.sources.config_external import (
        load_executions_from_firestore,
    )

    account_doc = {
        "google_ads_id": "123-456",
        "mcc_trix": "FALSE",
        "google_analytics_account_id": "UA-1",
        "campaign_manager_profile_id": "999",
        "app_id": "com.x",
    }
    entries = [
        {
            "active": "yes",
            "source_name": "s1",
            "source": "BIG_QUERY",
            "bq_dataset": "ds",
            "bq_table": "t",
            "destination_name": "d1",
            "type": "ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD",
            "gads_audience_name": "aud",
            "gads_operation": "ADD",
            "gads_hash": "true",
            "gads_account": "777",
        },
        {"active": "no", "source_name": "s2"},
    ]
    execs = load_executions_from_firestore(
        "coll",
        fetch_documents=lambda c: entries,
        fetch_account_doc=lambda c: account_doc,
    )
    assert len(execs) == 1
    e = execs[0]
    assert e.account_config.google_ads_account_id == "123456"
    assert e.source.metadata == ("ds", "t")
    # metadata_padding -> 'N/A' keeps sheet-aligned positions
    assert e.destination.metadata == ("aud", "ADD", "true", "N/A", "777")


def test_firestore_reference_layout_missing_field_raises():
    from megalista_spark.sources.config_external import (
        firestore_destination_metadata,
    )
    import pytest

    with pytest.raises(ValueError, match="Upload type not implemented"):
        firestore_destination_metadata({"type": "NOPE"})
    with pytest.raises(ValueError, match="Missing field"):
        firestore_destination_metadata(
            {"type": "CM_OFFLINE_CONVERSION",
             "campaign_manager_floodlight_activity_id": "1"}
        )

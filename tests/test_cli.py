"""CLI option parity: config-plane dispatch priority (reference
primary_execution_source.py:55-75) and the end-to-end `python -m
megalista_spark` run shape (reference main.py:53-121)."""

from __future__ import annotations

import json
import sys
import types

import pytest

from megalista_spark.__main__ import build_parser, main, select_config_channel


def _args(argv):
    return build_parser().parse_args(argv)


def test_dispatch_priority_matches_reference():
    # Sheets > Firestore > JSON URL > local file
    assert select_config_channel(
        _args(["--setup_sheet_id", "s", "--setup_firestore_collection", "f",
               "--setup_json_url", "u", "--config", "c"])
    ) == "sheets"
    assert select_config_channel(
        _args(["--setup_firestore_collection", "f", "--config", "c"])
    ) == "firestore"
    assert select_config_channel(
        _args(["--setup_json_url", "u", "--config", "c"])
    ) == "json_url"
    assert select_config_channel(_args(["--config", "c"])) == "json_file"
    with pytest.raises(SystemExit):
        select_config_channel(_args([]))


def test_unavailable_channels_fail_cleanly():
    with pytest.raises(SystemExit, match="Sheets client"):
        main(["--setup_sheet_id", "abc"])
    with pytest.raises(SystemExit, match="Firestore client"):
        main(["--setup_firestore_collection", "col"])


def _stub_sheets(monkeypatch):
    """A stub ``googleapiclient.discovery`` serving one sheet; returns the
    ranges asked for and the keyword arguments ``build`` was called with."""
    ranges = {
        "GoogleAdsAccountId": [["111-222"]],
        "SourcesRange": [["s1", "FILE", "PARQUET", "/data/s1"]],
        "DestinationsRange": [["d1", "ADS_OFFLINE_CONVERSION", "conv"]],
        "SchedulesRange": [["YES", "s1", "d1"]],
    }
    asked, built = [], []

    class Values:
        def get(self, spreadsheetId, range):
            asked.append((spreadsheetId, range))
            return types.SimpleNamespace(execute=lambda: {"values": ranges.get(range, [])})

    service = types.SimpleNamespace(
        spreadsheets=lambda: types.SimpleNamespace(values=Values)
    )

    def build(name, version, **kwargs):
        built.append((name, version, kwargs))
        return service

    discovery = types.ModuleType("googleapiclient.discovery")
    discovery.build = build
    package = types.ModuleType("googleapiclient")
    package.discovery = discovery
    monkeypatch.setitem(sys.modules, "googleapiclient", package)
    monkeypatch.setitem(sys.modules, "googleapiclient.discovery", discovery)
    return asked, built


def test_sheet_channel_loads_executions_through_the_sheets_client(monkeypatch):
    """With a (stub) ``googleapiclient.discovery`` importable, the CLI's
    sheet channel reads the account cells and the three ranges through it;
    with no OAuth flag it builds the client on Application Default
    Credentials."""
    from megalista_spark.__main__ import _load_executions

    asked, built = _stub_sheets(monkeypatch)
    execs = _load_executions(_args(["--setup_sheet_id", "sheet1"]))
    assert [(e.source.name, e.destination.name) for e in execs] == [("s1", "d1")]
    assert execs[0].account_config.google_ads_account_id == "111222"
    assert ("sheet1", "SchedulesRange") in asked
    assert built == [("sheets", "v4", {})]


def test_sheet_channel_signs_in_with_the_oauth_flags(monkeypatch):
    """The CLI's OAuth flags reach the Sheets client as user credentials,
    as the reference's SheetsConfig builds them."""
    from megalista_spark.__main__ import _load_executions

    _, built = _stub_sheets(monkeypatch)

    class Credentials:
        def __init__(self, **kwargs):
            self.kwargs = kwargs

    oauth2 = types.ModuleType("google.oauth2")
    oauth2.credentials = types.ModuleType("google.oauth2.credentials")
    oauth2.credentials.Credentials = Credentials
    for name, module in (("google", types.ModuleType("google")), ("google.oauth2", oauth2),
                         ("google.oauth2.credentials", oauth2.credentials)):
        monkeypatch.setitem(sys.modules, name, module)

    execs = _load_executions(_args(["--setup_sheet_id", "sheet1", "--client_id", "cid",
                                    "--client_secret", "sec", "--refresh_token", "rt"]))
    assert [e.destination.name for e in execs] == ["d1"]
    [(name, version, kwargs)] = built
    assert (name, version) == ("sheets", "v4")
    creds = kwargs["credentials"].kwargs
    assert (creds["client_id"], creds["client_secret"], creds["refresh_token"], creds["token"]) == (
        "cid", "sec", "rt", "")
    assert creds["scopes"] == ["https://www.googleapis.com/auth/spreadsheets.readonly"]


def test_cli_end_to_end_dry_run(spark, tmp_path):
    src = str(tmp_path / "conv")
    spark.createDataFrame(
        [(f"g{i}", "2024-03-01T12:00:00.000000", "10.0") for i in range(7)],
        ["gclid", "time", "amount"],
    ).write.parquet(src)
    cfg = {
        "GoogleAdsAccountId": "123-456-7890",
        "Sources": [
            {"Name": "conv", "Type": "FILE", "FileType": "PARQUET", "Path": src}
        ],
        "Destinations": [
            {"Name": "oc", "Type": "ADS_OFFLINE_CONVERSION",
             "Metadata": ["conv_name"]}
        ],
        "Connections": [
            {"Enabled": True, "Source": "conv", "Destination": "oc"}
        ],
    }
    cfg_path = tmp_path / "cfg.json"
    cfg_path.write_text(json.dumps(cfg))
    # via file URL — exercises the json_url channel end to end too
    rc = main(["--setup_json_url", cfg_path.as_uri(), "--dry-run"])
    assert rc == 0


def test_cli_without_dry_run_exits_before_spark(tmp_path, monkeypatch):
    """No live transport is wired, so without ``--dry-run`` ``main`` exits
    with an error once the config has loaded, before any Spark session
    starts, and records no key as uploaded."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import megalista_spark.__main__ as cli

    def no_spark(**kwargs):
        raise AssertionError("main started a Spark session")

    monkeypatch.setattr(cli, "get_spark", no_spark)
    src = tmp_path / "conv"
    src.mkdir()
    pq.write_table(
        pa.table({"gclid": ["g1"], "time": ["2024-03-01T12:00:00.000000"], "amount": ["1.0"]}),
        src / "part-0.parquet",
    )
    cfg = {
        "Sources": [{"Name": "conv", "Type": "FILE", "FileType": "PARQUET", "Path": str(src)}],
        "Destinations": [{"Name": "oc", "Type": "ADS_OFFLINE_CONVERSION", "Metadata": ["c"]}],
        "Connections": [{"Enabled": True, "Source": "conv", "Destination": "oc"}],
    }
    cfg_path = tmp_path / "cfg.json"
    cfg_path.write_text(json.dumps(cfg))
    with pytest.raises(SystemExit, match="--dry-run") as exited:
        main(["--config", str(cfg_path)])
    assert exited.value.code != 0
    assert not (tmp_path / "conv_uploaded").exists()

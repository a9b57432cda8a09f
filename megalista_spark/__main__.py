"""CLI entry point — the Spark shape of the reference's `python -m main`
(megalista_dataflow/main.py:53-121) with full option parity against its
DataflowOptions (models/options.py:20-71) and the config-plane dispatch
of PrimaryExecutionSource (sources/primary_execution_source.py:31-75):
Sheets takes priority, then Firestore, then JSON.

    python -m megalista_spark --config config.json --dry-run
    python -m megalista_spark --setup_json_url https://... --dry-run

No live transport is wired yet, so a run without ``--dry-run`` exits with
an error once the config has loaded, before Spark starts.
Exit code 1 if any branch recorded an error (reference main.py:106-121).
Dataflow-runner-specific options (templates, regions, workers) have no
Spark meaning and are intentionally absent; spark-submit owns cluster
placement.
"""

from __future__ import annotations

import argparse
import json
import sys

from megalista_spark.models.credentials import OAuthCredentials
from megalista_spark.notifiers import GmailErrorNotifier, LoggingErrorNotifier
from megalista_spark.pipeline import Pipeline
from megalista_spark.session import get_spark
from megalista_spark.sinks.transports import DryRunTransport
from megalista_spark.version import MEGALISTA_SPARK_VERSION


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="megalista_spark")
    # config plane — exactly the reference's three setup channels plus
    # the local-file form this repo adds
    p.add_argument("--config", help="local JSON config file path")
    p.add_argument(
        "--setup_json_url",
        help="URL (file:// or http(s)://) of the JSON config "
        "(reference --setup_json_url)",
    )
    p.add_argument(
        "--setup_sheet_id",
        help="Spreadsheet id with execution info (requires "
        "google-api-python-client; signs in with the OAuth flags below when "
        "any is given, else with Application Default Credentials)",
    )
    p.add_argument(
        "--setup_firestore_collection",
        help="Firestore collection with execution info (requires "
        "google-cloud-firestore; signs in with Application Default "
        "Credentials, not the OAuth flags)",
    )
    # OAuth (models/options.py OAUTH block) — the Sheets config channel's sign-in
    p.add_argument("--client_id", default="")
    p.add_argument("--client_secret", default="")
    p.add_argument("--refresh_token", default="")
    p.add_argument("--access_token", default="")
    # per-API keys
    p.add_argument("--developer_token", default="", help="Google Ads API")
    p.add_argument("--appsflyer_dev_key", default="", help="AppsFlyer S2S API")
    # BigQuery ops dataset: holds the control tables of BigQuery sources;
    # required for transactional BigQuery sources, which dedup in BigQuery
    p.add_argument("--bq_ops_dataset", default="")
    p.add_argument("--bq_location", default="")
    # AWS S3 — wired straight into the Hadoop FS config, the Spark
    # equivalent of the reference FileProvider's boto3 credentials
    # (data_sources/file/file_provider.py)
    p.add_argument("--aws_access_key_id", default="")
    p.add_argument("--aws_secret_access_key", default="")
    # error notification
    p.add_argument("--notify_errors_by_email", action="store_true")
    p.add_argument("--errors_destination_emails", default="")
    # debug / misc
    p.add_argument("--show_code_lines_in_log", action="store_true")
    p.add_argument("--dry-run", action="store_true",
                   help="accept every row without calling any external API "
                   "(required: no live transport is wired yet); the keys of "
                   "transactional branches are still recorded as uploaded")
    p.add_argument("--master", default=None)
    p.add_argument(
        "--version", action="version",
        version=f"megalista_spark {MEGALISTA_SPARK_VERSION}",
    )
    return p


def select_config_channel(args: argparse.Namespace) -> str:
    """Reference dispatch priority (primary_execution_source.py:55-75):
    Sheets wins, then Firestore, then JSON URL, then the local file."""
    if args.setup_sheet_id:
        return "sheets"
    if args.setup_firestore_collection:
        return "firestore"
    if args.setup_json_url:
        return "json_url"
    if args.config:
        return "json_file"
    raise SystemExit(
        "one of --config / --setup_json_url / --setup_sheet_id / "
        "--setup_firestore_collection is required"
    )


def _load_executions(args: argparse.Namespace):
    from megalista_spark.sources import config_external
    from megalista_spark.sources.config_json import (
        load_executions_from_json,
        parse_config,
    )

    channel = select_config_channel(args)
    try:
        if channel == "sheets":
            oauth = OAuthCredentials(
                args.client_id, args.client_secret, args.access_token, args.refresh_token
            )
            return config_external.load_executions_from_sheet(
                args.setup_sheet_id, credentials=oauth if oauth != OAuthCredentials() else None
            )
        if channel == "firestore":
            return config_external.load_executions_from_firestore(args.setup_firestore_collection)
    except RuntimeError as exc:
        if not isinstance(exc.__cause__, ImportError):
            raise
        raise SystemExit(
            f"the {channel.title()} client library is not available here "
            f"({exc.__cause__})"
        ) from exc
    if channel == "json_url":
        import urllib.request

        with urllib.request.urlopen(args.setup_json_url) as r:
            return parse_config(json.loads(r.read().decode("utf-8")))
    return load_executions_from_json(args.config)


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    executions = _load_executions(args)
    if not args.dry_run:
        raise SystemExit(
            "no live transport is wired, so nothing can be sent; run with "
            "--dry-run to accept every row without calling any external API"
        )

    spark = get_spark(app_name="megalista_spark", master=args.master)
    if args.aws_access_key_id:
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        hconf.set("fs.s3a.access.key", args.aws_access_key_id)
        hconf.set("fs.s3a.secret.key", args.aws_secret_access_key)

    notifier = (
        GmailErrorNotifier(args.errors_destination_emails)
        if args.notify_errors_by_email
        else LoggingErrorNotifier()
    )
    result = Pipeline(
        spark, executions, lambda e: DryRunTransport(), notifier,
        bq_ops_dataset=args.bq_ops_dataset,
    ).run()
    print(json.dumps(result.summary(), indent=2, default=str))
    return result.exit_code


if __name__ == "__main__":
    sys.exit(main())

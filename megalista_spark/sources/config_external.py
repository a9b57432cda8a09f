"""Google Sheets / Firestore execution-config sources.

Same contract as the JSON source (list[Execution] out), matching the
reference's readers:
- SpreadsheetExecutionSource (sources/spreadsheet_execution_source.py:43-133):
  named ranges SourcesRange / DestinationsRange / SchedulesRange; only
  schedules marked 'YES' become executions.
- FirestoreExecutionSource (sources/firestore_execution_source.py:41-137):
  an account_config document plus entry documents where active == 'yes',
  per-type metadata-list assembly.

The Google client libraries are not available in this environment, so the
network fetch is injectable: pass ``fetch_values`` / ``fetch_documents``
(or rely on the libraries if installed). The parsing/assembly logic — the
actual semantics — is implemented and tested with injected fixtures.
"""

from __future__ import annotations

from typing import Any, Callable

from megalista_spark.models.credentials import OAuthCredentials
from megalista_spark.models.execution import (
    AccountConfig,
    Destination,
    DestinationType,
    Execution,
    Source,
    SourceType,
)


def parse_sheet_config(
    account: AccountConfig,
    sources_rows: list[list[str]],
    destinations_rows: list[list[str]],
    schedules_rows: list[list[str]],
) -> list[Execution]:
    """rows are the raw named-range values:
    sources:       [name, type, metadata...]
    destinations:  [name, type, metadata...]
    schedules:     [active(YES/NO), source_name, destination_name]
    """
    sources = {
        r[0].strip(): Source(r[0], SourceType[r[1].strip().upper()], tuple(r[2:]))
        for r in sources_rows
        if r and r[0]
    }
    destinations = {
        r[0].strip(): Destination(
            r[0], DestinationType[r[1].strip().upper()], tuple(r[2:])
        )
        for r in destinations_rows
        if r and r[0]
    }
    out = []
    for r in schedules_rows:
        if not r or str(r[0]).strip().upper() != "YES":
            continue
        out.append(
            Execution(account, sources[r[1].strip()], destinations[r[2].strip()])
        )
    return out


def _strtobool(s: str) -> bool:
    """distutils.util.strtobool semantics (the stdlib module is removed in
    3.12; reference spreadsheet_execution_source.py:49 relies on it)."""
    v = str(s).strip().lower()
    if v in ("y", "yes", "t", "true", "on", "1"):
        return True
    if v in ("n", "no", "f", "false", "off", "0", ""):
        return False
    raise ValueError(f"invalid truth value {s!r}")


def load_account_config_from_sheet(
    sheet_id: str, get_value: Callable[[str, str], str | None]
) -> AccountConfig:
    """Account config from the sheet's named single-cell ranges
    (reference spreadsheet_execution_source.py:47-59), including the
    CampaignManagerProfileId → CampaignManagerAccountId fallback (taken
    when ``get_value`` gives None for ProfileId, as it does for a missing
    or empty range) and strtobool MCC parsing."""
    mcc_trix = get_value(sheet_id, "GoogleAdsMCC")
    mcc = False if mcc_trix is None else _strtobool(mcc_trix)
    cm_profile = get_value(sheet_id, "CampaignManagerProfileId")
    if cm_profile is None:
        cm_profile = get_value(sheet_id, "CampaignManagerAccountId")
    return AccountConfig(
        google_ads_account_id=get_value(sheet_id, "GoogleAdsAccountId") or "",
        mcc=mcc,
        google_analytics_account_id=(
            get_value(sheet_id, "GoogleAnalyticsAccountId") or ""
        ),
        campaign_manager_profile_id=cm_profile or "",
        app_id=get_value(sheet_id, "AppId") or "",
    )


def _live_sheets_fetcher(
    credentials: OAuthCredentials | None = None,
) -> Callable[[str, str], list[list[str]]]:
    """google-api-python-client fetcher (reference asks Sheets for named
    ranges via the same values().get API its SheetsConfig wraps). It signs
    in as the OAuth user of ``credentials``, as the reference does, or with
    Application Default Credentials when there are none."""
    if credentials is not None:
        from megalista_spark.sinks.adapters import build_discovery_service

        scopes = ("https://www.googleapis.com/auth/spreadsheets.readonly",)
        service = build_discovery_service("sheets", "v4", scopes, credentials)
    else:
        try:
            from googleapiclient.discovery import build  # type: ignore
        except ImportError as exc:
            raise RuntimeError(
                "google-api-python-client not available; pass fetch_values"
            ) from exc
        service = build("sheets", "v4")

    def fetch_values(sid: str, rng: str) -> list[list[str]]:
        resp = (
            service.spreadsheets()
            .values()
            .get(spreadsheetId=sid, range=rng)
            .execute()
        )
        return resp.get("values", [])

    return fetch_values


def load_executions_from_sheet(
    sheet_id: str,
    account: AccountConfig | None = None,
    fetch_values: Callable[[str, str], list[list[str]]] | None = None,
    credentials: OAuthCredentials | None = None,
) -> list[Execution]:
    """``fetch_values(sheet_id, named_range) -> rows``. Without an injected
    fetcher this needs google-api-python-client (not bundled here), which
    signs in with ``credentials`` (see ``_live_sheets_fetcher``).
    When ``account`` is omitted the account config is read from the
    sheet's named cells (reference :47-59) through the same fetcher
    (single-cell ranges → first cell; a missing range → None)."""
    if fetch_values is None:
        fetch_values = _live_sheets_fetcher(credentials)

    if account is None:

        def get_value(sid: str, rng: str) -> str | None:
            try:
                rows = fetch_values(sid, rng)
            except Exception:
                return None
            return str(rows[0][0]) if rows and rows[0] else None

        account = load_account_config_from_sheet(sheet_id, get_value)

    return parse_sheet_config(
        account,
        fetch_values(sheet_id, "SourcesRange"),
        fetch_values(sheet_id, "DestinationsRange"),
        fetch_values(sheet_id, "SchedulesRange"),
    )


# reference firestore_execution_source.py:93-115 — per-destination-type
# ordered metadata field names; 'metadata_padding' renders 'N/A' to keep
# positional indexes aligned with the Sheets layout
FIRESTORE_METADATA_FIELDS: dict[str, list[str]] = {
    "ADS_OFFLINE_CONVERSION": ["gads_conversion_name"],
    "ADS_ENHANCED_CONVERSION": [
        "gads_conversion_label", "gads_conversion_tracking_id",
        "gads_currency_code",
    ],
    "ADS_SSD_UPLOAD": [
        "gads_conversion_name", "gads_external_upload_id", "gads_hash",
        "gads_currency_code", "gads_account",
    ],
    "ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD": [
        "gads_audience_name", "gads_operation", "gads_hash",
        "metadata_padding", "gads_account",
    ],
    "ADS_CUSTOMER_MATCH_MOBILE_DEVICE_ID_UPLOAD": [
        "gads_audience_name", "gads_operation", "metadata_padding",
        "gads_app_id", "gads_account",
    ],
    "ADS_CUSTOMER_MATCH_USER_ID_UPLOAD": [
        "gads_audience_name", "gads_operation", "gads_hash",
        "metadata_padding", "gads_account",
    ],
    "GA_MEASUREMENT_PROTOCOL": [
        "google_analytics_property_id", "google_analytics_non_interaction",
    ],
    "GA_DATA_IMPORT": [
        "google_analytics_property_id", "google_analytics_data_import_name",
    ],
    "GA_USER_LIST_UPLOAD": [
        "google_analytics_property_id", "google_analytics_view_id",
        "google_analytics_data_import_name",
        "google_analytics_user_id_list_name",
        "google_analytics_user_id_custom_dim",
        "google_analytics_buyer_custom_dim",
    ],
    "CM_OFFLINE_CONVERSION": [
        "campaign_manager_floodlight_activity_id",
        "campaign_manager_floodlight_configuration_id",
    ],
    "APPSFLYER_S2S_EVENTS": ["appsflyer_app_id"],
}


def firestore_destination_metadata(entry: dict[str, Any]) -> tuple[str, ...]:
    """reference create_metadata_list (firestore_execution_source.py:
    93-128): ordered field extraction with N/A padding; unknown types and
    missing fields raise with the reference's messages."""
    entry_type = entry["type"]
    fields = FIRESTORE_METADATA_FIELDS.get(entry_type)
    if not fields:
        raise ValueError(f"Upload type not implemented: {entry_type}")
    out: list[str] = []
    for f in fields:
        if f == "metadata_padding":
            out.append("N/A")
        elif f in entry:
            out.append(str(entry[f]))
        else:
            raise ValueError(
                f"Missing field in Firestore document for {entry_type}: {f}"
            )
    return tuple(out)


def parse_firestore_account_config(account_data: dict[str, Any]) -> AccountConfig:
    """reference firestore_execution_source.py:55-67 — the account_config
    document's field names and 'empty' defaults."""
    if not account_data:
        raise ValueError("Firestore collection is absent")
    mcc_trix = account_data.get("mcc_trix", "FALSE")
    return AccountConfig(
        google_ads_account_id=str(account_data.get("google_ads_id", "empty")),
        mcc=False if mcc_trix is None else _strtobool(mcc_trix),
        google_analytics_account_id=str(
            account_data.get("google_analytics_account_id", "empty")
        ),
        campaign_manager_profile_id=str(
            account_data.get("campaign_manager_profile_id", "empty")
        ),
        app_id=str(account_data.get("app_id", "empty")),
    )


def parse_firestore_entries(
    account: AccountConfig, entries: list[dict[str, Any]]
) -> list[Execution]:
    """reference firestore_execution_source.py:69-137 — entry documents
    with bq_dataset/bq_table sources and per-type metadata assembly;
    only active == 'yes' runs."""
    out = []
    for entry in entries:
        if str(entry.get("active", "")).upper() != "YES":
            continue
        source = Source(
            entry["source_name"],
            SourceType[str(entry["source"]).upper()],
            (entry["bq_dataset"], entry["bq_table"]),
        )
        destination = Destination(
            entry["destination_name"],
            DestinationType[str(entry["type"]).upper()],
            firestore_destination_metadata(entry),
        )
        out.append(Execution(account, source, destination))
    return out


def load_executions_from_firestore(
    collection: str,
    account: AccountConfig | None = None,
    fetch_documents: Callable[[str], list[dict[str, Any]]] | None = None,
    fetch_account_doc: Callable[[str], dict[str, Any]] | None = None,
) -> list[Execution]:
    """The reference's collection layout (firestore_execution_source.py:
    41-137): an ``account_config`` document (``fetch_account_doc``, or
    ``account`` when given) plus entry documents with bq_dataset/bq_table
    sources and per-type metadata fields. The live fetchers use
    google-cloud-firestore."""
    live_client = None
    if fetch_documents is None or (account is None and fetch_account_doc is None):
        try:
            from google.cloud import firestore  # type: ignore
        except ImportError as exc:
            raise RuntimeError(
                "google-cloud-firestore not available; pass fetch_documents"
            ) from exc
        live_client = firestore.Client()

    if fetch_documents is None:

        def fetch_documents(coll: str) -> list[dict[str, Any]]:
            # reference :52 filters active == 'yes' server-side
            q = live_client.collection(coll).where("active", "==", "yes")
            return [d.to_dict() for d in q.stream()]

    if account is None:
        if fetch_account_doc is None:

            def fetch_account_doc(coll: str) -> dict[str, Any]:
                doc = live_client.collection(coll).document("account_config").get()
                return doc.to_dict() if doc.exists else {}

        account = parse_firestore_account_config(fetch_account_doc(collection))
    return parse_firestore_entries(account, fetch_documents(collection))

"""Live Google API transport adapters.

Each class here is the last hop behind the injectable seams documented in
ADAPTERS.md: payload shaping, batching, retry, partial-failure and
rate-limit semantics live in ``sinks/payloads.py`` / ``sinks/executor.py``
and are already golden-tested; this module binds them to the real client
protocols the reference's uploaders speak:

- Google Ads (google-ads gRPC client): offline click/call conversions
  (reference uploaders/google_ads/conversions/
  google_ads_offline_conversions_uploader.py:30-161), conversion
  adjustments (.../google_ads_offline_conversion_adjustments_uploader.py),
  and the customer-match ``AdsApiClient`` protocol
  (uploaders/google_ads/customer_match/abstract_uploader.py:33-281)
- Campaign Manager 360 (dfareporting discovery API): conversion
  batchinsert (uploaders/campaign_manager/
  campaign_manager_conversion_uploader.py:30-162)
- GA / GA4 Measurement Protocol (plain HTTPS): hit/event POSTs
  (uploaders/google_analytics/google_analytics_measurement_protocol.py,
  google_analytics_4_measurement_protocol.py:30-140)
- GA Data Import (analytics v3 discovery API): CSV uploadData + the
  pre-upload eraser (google_analytics_data_import_uploader.py:100-155,
  google_analytics_data_import_eraser.py:60-125)
- DV360 (displayvideo discovery API): customer-match audience
  create/edit (uploaders/display_video/customer_match/
  abstract_uploader.py:34-222, contact_info_uploader.py:25-74)
- AppsFlyer S2S (plain HTTPS): per-event POST with dev-key auth
  (third_party/uploaders/appsflyer/appsflyer_s2s_uploader_async.py:30-140)

The client libraries (google-ads, google-api-python-client) are not
present in this build environment, so every import is lazy and the
network/service seam on each adapter is a constructor argument with a
live default — tests inject recorders and assert the exact requests the
reference's mocked-API tests assert; a deployment with the libraries
installed uses the defaults unchanged.

Live service objects are built in ``open()`` or on first use, never in
``__init__``: the executor pickles each transport before ``before_run``,
so a service built on the driver stays there and each task builds its own
(``Transport``).
"""

from __future__ import annotations

import json
from functools import partial
from typing import Any, Callable

from megalista_spark.models.credentials import OAuthCredentials
from megalista_spark.models.execution import Execution, filter_text_only_numbers
from megalista_spark.sinks import payloads
from megalista_spark.sinks.customer_match import AdsApiClient
from megalista_spark.sinks.transports import (
    ConcurrentSendTransport,
    Transport,
    TransportError,
)

Row = dict[str, Any]

# reference uploaders/google_ads/__init__.py:15 / display_video/__init__.py:15
ADS_API_VERSION = "v17"
DV_API_VERSION = "v3"
CM_API_VERSION = "v4"

GA4_MP_URL = "https://www.google-analytics.com/mp/collect"
GA_MP_BATCH_URL = "https://www.google-analytics.com/batch"
APPSFLYER_URL = "https://api2.appsflyer.com/inappevent/"

# reference google_analytics_measurement_protocol.py:33
GA_MP_USER_AGENT = (
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
    "(KHTML, like Gecko) Chrome/74.0.3729.169 Safari/537.36"
)


class MissingClientLibraryError(RuntimeError):
    """A live adapter was used without its client library installed."""


def gaql_quote(name: str) -> str:
    """Escape a value for interpolation into a single-quoted GAQL string
    literal (GAQL grammar: backslash-escaped quotes). Without this a
    list/conversion-action name containing ``'`` breaks the query and is
    an injection vector."""
    return name.replace("\\", "\\\\").replace("'", "\\'")


# --------------------------------------------------------------- HTTP seam


def default_http_post(
    url: str, data: bytes, headers: dict[str, str] | None = None
) -> tuple[int, bytes]:
    """stdlib POST — the live default for the MP/AppsFlyer seams (the
    reference uses requests/aiohttp; urllib avoids an extra dependency).
    Returns (status_code, body). Network errors raise (→ executor retry)."""
    import urllib.error
    import urllib.request

    req = urllib.request.Request(url, data=data, headers=headers or {}, method="POST")
    try:
        with urllib.request.urlopen(req, timeout=15) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:  # non-2xx IS a response, not an error
        return e.code, e.read()


HttpPost = Callable[..., tuple[int, bytes]]


# --------------------------------------------------- Google Ads service seam


class LiveAdsServiceFactory:
    """Builds google-ads service stubs (reference uploaders/utils.py:32-47
    get_ads_client/get_ads_service). Picklable: holds only strings; the
    GoogleAdsClient is constructed on first use after unpickling."""

    def __init__(self, credentials: OAuthCredentials, developer_token: str):
        self.credentials = credentials
        self.developer_token = developer_token
        self._clients: dict[str, Any] = {}

    def __getstate__(self) -> dict[str, Any]:
        return {
            "credentials": self.credentials,
            "developer_token": self.developer_token,
        }

    def __setstate__(self, state: dict[str, Any]) -> None:
        self.__dict__.update(state)
        self._clients = {}

    def _client(self, login_customer_id: str) -> Any:
        if login_customer_id not in self._clients:
            try:
                from google.ads.googleads import oauth2
                from google.ads.googleads.client import GoogleAdsClient
            except ImportError as exc:
                raise MissingClientLibraryError(
                    "google-ads is not installed; install it or inject a "
                    "service_factory (see ADAPTERS.md §2)"
                ) from exc
            oauth2_client = oauth2.get_installed_app_credentials(
                self.credentials.get_client_id(),
                self.credentials.get_client_secret(),
                self.credentials.get_refresh_token(),
            )
            self._clients[login_customer_id] = GoogleAdsClient(
                oauth2_client,
                self.developer_token,
                login_customer_id=login_customer_id,
            )
        return self._clients[login_customer_id]

    def get(self, service_name: str, login_customer_id: str) -> Any:
        return self._client(login_customer_id).get_service(
            service_name, version=ADS_API_VERSION
        )


AdsServiceFactory = LiveAdsServiceFactory  # structural seam; tests duck-type


def _deserialize_ads_failure(value: bytes) -> Any:
    """Deserialize a packed ``google.protobuf.Any`` payload into a
    GoogleAdsFailure proto (public error-handling recipe from the
    google-ads docs: ``GoogleAdsFailure.deserialize(detail.value)``).
    Raises TransportError when the client library is absent or the bytes
    don't parse — a live partial failure we cannot decode must NOT be
    treated as success."""
    try:
        import importlib

        mod = importlib.import_module(
            f"google.ads.googleads.{ADS_API_VERSION}.errors.types.errors"
        )
        return mod.GoogleAdsFailure.deserialize(value)
    except Exception as exc:  # pragma: no cover - exercised via fakes
        raise TransportError(
            f"undecodable google-ads partial_failure detail: {exc}"
        ) from exc


def partial_failure_failed_indices(response: Any) -> tuple[list[int], str | None]:
    """Extract (failed operation indices, error message) from a google-ads
    partial-failure response. The failure proto carries one
    GoogleAdsError per failed operation whose location's first
    field_path_element index IS the operation index — public google-ads
    error-handling contract. Live responses pack each detail as a
    ``google.protobuf.Any`` whose ``value`` is serialized
    GoogleAdsFailure bytes — those are deserialized before reading
    ``errors`` (pre-unpacked fakes pass through). A detail that exists
    but cannot be parsed raises TransportError rather than silently
    reporting zero failures (which would mark failed rows as uploaded in
    the transactional control table). Responses without the attribute
    (or fakes) yield ([], None)."""
    pf = getattr(response, "partial_failure_error", None)
    if pf is None or not getattr(pf, "message", ""):
        return [], None
    message = f"{pf.message}"
    indices: list[int] = []
    details = list(getattr(pf, "details", []) or [])
    parsed_any = False
    for detail in details:
        failure = detail
        if hasattr(detail, "value"):
            value = getattr(detail, "value")
            # packed Any → serialized bytes; unpacked fakes carry objects
            failure = (
                _deserialize_ads_failure(value)
                if isinstance(value, (bytes, bytearray))
                else value
            )
        errors = getattr(failure, "errors", None)
        if errors is None:
            raise TransportError(
                "google-ads partial_failure detail lacks an errors list "
                f"(type_url={getattr(detail, 'type_url', '?')})"
            )
        parsed_any = True
        for err in errors:
            loc = getattr(err, "location", None)
            fpes = getattr(loc, "field_path_elements", None) if loc else None
            if fpes:
                idx = getattr(fpes[0], "index", None)
                if idx is not None:
                    indices.append(int(idx))
    if details and not parsed_any:
        raise TransportError(
            "google-ads partial_failure details present but none parseable"
        )
    return indices, message


class LiveAdsClient:
    """``AdsApiClient`` protocol (sinks/customer_match.py:34-49) against the
    real google-ads services — the live half of the customer-match seam
    (reference abstract_uploader.py:106-182,263-264,49-56)."""

    def __init__(
        self,
        service_factory: AdsServiceFactory,
        login_customer_id: str,
    ):
        self.factory = service_factory
        self.login_customer_id = login_customer_id

    def get_user_list(self, customer_id: str, list_name: str) -> str | None:
        svc = self.factory.get("GoogleAdsService", self.login_customer_id)
        # reference abstract_uploader.py:111-112 — OWNED lists only
        query = (
            "SELECT user_list.resource_name, user_list.access_reason "
            f"FROM user_list WHERE user_list.name='{gaql_quote(list_name)}' "
            "AND user_list.access_reason='OWNED'"
        )
        resource_name = None
        for batch in svc.search_stream(customer_id=customer_id, query=query):
            for row in batch.results:
                resource_name = row.user_list.resource_name
        return resource_name

    def create_user_list(self, customer_id: str, list_definition: Row) -> str:
        svc = self.factory.get("UserListService", self.login_customer_id)
        # reference abstract_uploader.py:86-98
        response = svc.mutate_user_lists(
            {
                "customer_id": customer_id,
                "partial_failure": False,
                "validate_only": False,
                "operations": [{"create": list_definition}],
            }
        )
        resource_name = None
        for result in response.results:
            resource_name = result.resource_name
        return str(resource_name)

    def create_offline_user_data_job(
        self, customer_id: str, list_resource_name: str, consents: Row
    ) -> str:
        svc = self.factory.get("OfflineUserDataJobService", self.login_customer_id)
        # reference abstract_uploader.py:170-179
        job = {
            "type_": "CUSTOMER_MATCH_USER_LIST",
            "customer_match_user_list_metadata": {
                "user_list": list_resource_name,
                **consents,
            },
        }
        return str(
            svc.create_offline_user_data_job(
                customer_id=customer_id, job=job
            ).resource_name
        )

    def add_job_operations(
        self, job_resource_name: str, operations: list[Row]
    ) -> list[int]:
        svc = self.factory.get("OfflineUserDataJobService", self.login_customer_id)
        # reference abstract_uploader.py:257-264
        response = svc.add_offline_user_data_job_operations(
            request={
                "resource_name": job_resource_name,
                "enable_partial_failure": True,
                "operations": operations,
            }
        )
        failed, _ = partial_failure_failed_indices(response)
        return failed

    def run_job(self, job_resource_name: str) -> None:
        svc = self.factory.get("OfflineUserDataJobService", self.login_customer_id)
        # reference abstract_uploader.py:52-53
        svc.run_offline_user_data_job(resource_name=job_resource_name)


class GoogleAdsConversionsTransport(Transport):
    """Offline click / call conversions and RESTATEMENT adjustments
    against ConversionUploadService / ConversionAdjustmentUploadService.

    Mirrors reference google_ads_offline_conversions_uploader.py:
    - customer-id: destination metadata[1] override (digits only) else
      account id (:52-58); login id = account id when MCC (:60-67)
    - conversion-action resource name resolved ONCE per partition by GAQL
      name lookup (:146-152), cached (the query is per-destination, not
      per-chunk)
    - request: {customer_id, partial_failure: True, validate_only: False,
      conversions} (:131-138)
    - accepted = rows whose key (gclid / caller_id / order_id) appears in
      response.results (:154-161); adjustment variants key on
      gclid_date_time_pair.gclid or order_id
    ``kind`` ∈ {'click', 'call', 'adjustment_gclid', 'adjustment_order_id'}.
    """

    def __init__(
        self,
        execution: Execution,
        service_factory: AdsServiceFactory,
        kind: str = "click",
        tz: str = payloads.DEFAULT_TIMEZONE,
    ):
        if kind not in {"click", "call", "adjustment_gclid", "adjustment_order_id"}:
            raise ValueError(f"unknown conversions kind: {kind}")
        self.execution = execution
        self.factory = service_factory
        self.kind = kind
        self.tz = tz
        self._resource_name: str | None = None
        md = execution.destination.metadata
        if not md or not md[0]:
            # reference :69-78 _assert_conversion_name_is_present
            raise ValueError(f"Missing destination information. Received {md}")

    # -- id resolution (reference :52-67) --

    @property
    def customer_id(self) -> str:
        md = self.execution.destination.metadata
        if len(md) >= 2 and md[1]:
            return filter_text_only_numbers(md[1])
        return self.execution.account_config.google_ads_account_id

    @property
    def login_customer_id(self) -> str:
        if self.execution.account_config.mcc:
            return self.execution.account_config.google_ads_account_id
        return self.customer_id

    # -- lifecycle --

    def _conversion_action_resource_name(self) -> str:
        if self._resource_name is None:
            name = self.execution.destination.metadata[0]
            svc = self.factory.get("GoogleAdsService", self.login_customer_id)
            query = (
                "SELECT conversion_action.resource_name FROM conversion_action "
                f"WHERE conversion_action.name = '{gaql_quote(name)}'"
            )
            for batch in svc.search_stream(customer_id=self.customer_id, query=query):
                for row in batch.results:
                    self._resource_name = row.conversion_action.resource_name
                    break
                if self._resource_name:
                    break
            if self._resource_name is None:
                raise TransportError(
                    f'Conversion "{name}" could not be found on account '
                    f"{self.customer_id}"
                )
        return self._resource_name

    def _build(self, row: Row, action: str) -> Row:
        if self.kind == "click":
            return payloads.ads_offline_conversion(row, action, self.tz)
        if self.kind == "call":
            return payloads.ads_call_conversion(row, action, self.tz)
        key = "gclid" if self.kind == "adjustment_gclid" else "order_id"
        return payloads.ads_conversion_adjustment(row, action, key, self.tz)

    @staticmethod
    def _result_key(result: Any, kind: str) -> Any:
        if kind == "call":
            return getattr(result, "caller_id", None)
        if kind == "adjustment_order_id":
            return getattr(result, "order_id", None)
        if kind == "adjustment_gclid":
            pair = getattr(result, "gclid_date_time_pair", None)
            return getattr(pair, "gclid", None) if pair else None
        return getattr(result, "gclid", None)

    @staticmethod
    def _row_key(row: Row, kind: str) -> Any:
        if kind == "call":
            return row.get("caller_id")
        if kind == "adjustment_order_id":
            return row.get("order_id")
        return row.get("gclid")

    def send(self, payload: list[Row], context: dict[str, Any]) -> list[Row]:
        action = self._conversion_action_resource_name()
        conversions = [self._build(r, action) for r in payload]
        if self.kind in ("click", "call"):
            svc = self.factory.get("ConversionUploadService", self.login_customer_id)
            request = {
                "customer_id": self.customer_id,
                "partial_failure": True,
                "validate_only": False,
                "conversions": conversions,
            }
            if self.kind == "click":
                response = svc.upload_click_conversions(request=request)
            else:
                response = svc.upload_call_conversions(request=request)
        else:
            svc = self.factory.get(
                "ConversionAdjustmentUploadService", self.login_customer_id
            )
            response = svc.upload_conversion_adjustments(
                request={
                    "customer_id": self.customer_id,
                    "partial_failure": True,
                    "validate_only": False,
                    "conversion_adjustments": conversions,
                }
            )
        # success filter (reference :154-161): keep rows whose key came
        # back in results
        ok_keys = {
            k
            for k in (
                self._result_key(res, self.kind)
                for res in getattr(response, "results", [])
            )
            if k
        }
        return [r for r in payload if self._row_key(r, self.kind) in ok_keys]


# ------------------------------------------------------ discovery API seam


# (api, version, scopes) of each discovery API: reference
# campaign_manager_conversion_uploader.py:36-48,
# google_analytics_user_list_uploader.py:36-43 and
# display_video/customer_match/abstract_uploader.py:45-61
DCM_API = (
    "dfareporting",
    CM_API_VERSION,
    (
        "https://www.googleapis.com/auth/dfareporting",
        "https://www.googleapis.com/auth/dfatrafficking",
        "https://www.googleapis.com/auth/ddmconversions",
    ),
)
ANALYTICS_API = (
    "analytics",
    "v3",
    (
        "https://www.googleapis.com/auth/analytics.edit",
        "https://www.googleapis.com/auth/adwords",
    ),
)
DV_API = ("displayvideo", DV_API_VERSION, ("https://www.googleapis.com/auth/display-video",))


def build_discovery_service(
    api: str, version: str, scopes: tuple[str, ...], credentials: OAuthCredentials
) -> Any:
    """The live ``service_builder``: a discovery client for ``api`` with
    OAuth user credentials (reference
    campaign_manager_conversion_uploader.py:37-47)."""
    try:
        from google.oauth2.credentials import Credentials
        from googleapiclient.discovery import build
    except ImportError as exc:
        raise MissingClientLibraryError(
            "google-auth and google-api-python-client are required; install "
            "them or inject a service_builder (see ADAPTERS.md)"
        ) from exc
    creds = Credentials(
        token=credentials.get_access_token(),
        refresh_token=credentials.get_refresh_token(),
        client_id=credentials.get_client_id(),
        client_secret=credentials.get_client_secret(),
        token_uri="https://accounts.google.com/o/oauth2/token",
        scopes=list(scopes),
    )
    return build(api, version, credentials=creds)


class CampaignManagerConversionsTransport(Transport):
    """CM360 conversions batchinsert (reference
    campaign_manager_conversion_uploader.py:69-162).

    destination metadata: [floodlight_activity_id,
    floodlight_configuration_id]; profile id from account config.
    Partial failure: the response's ``status`` array is index-aligned
    with the submitted conversions — rows whose status carries ``errors``
    are rejected (the reference logs+notifies them; returning the subset
    gives the engine's control table the same accepted set)."""

    def __init__(
        self,
        execution: Execution,
        credentials: OAuthCredentials | None = None,
        service_builder: Callable[[OAuthCredentials], Any] | None = None,
        now_micros: int | None = None,
    ):
        md = execution.destination.metadata
        if len(md) != 2 or not md[0] or not md[1]:
            # reference :53-63
            raise ValueError(f"Missing destination information. Found {len(md)}")
        self.execution = execution
        self.credentials = credentials or OAuthCredentials()
        self.service_builder = service_builder or partial(build_discovery_service, *DCM_API)
        self.now_micros = now_micros
        self._service: Any = None

    def open(self, context: dict[str, Any]) -> None:
        self._service = self.service_builder(self.credentials)

    def send(self, payload: list[Row], context: dict[str, Any]) -> list[Row]:
        if self._service is None:
            self.open(context)
        md = self.execution.destination.metadata
        conversions = [
            payloads.cm_conversion(r, md[0], md[1], now_micros=self.now_micros)
            for r in payload
        ]
        request = self._service.conversions().batchinsert(
            profileId=self.execution.account_config.campaign_manager_profile_id,
            body={"conversions": conversions},
        )
        response = request.execute()
        if not response.get("hasFailures"):
            return payload
        # reference :150-162 collects [code]: message strings; here the
        # per-row statuses also drive the accepted subset. With
        # hasFailures set, a row WITHOUT a status entry is unconfirmed —
        # treating it as accepted would optimistically mark it uploaded
        # in the control table on a truncated response, so reject it.
        statuses = response.get("status", [])
        return [
            row
            for row, status in zip(payload, statuses)
            if not status.get("errors")
        ]


class GA4MeasurementProtocolTransport(ConcurrentSendTransport):
    """GA4 MP event POSTs (reference
    google_analytics_4_measurement_protocol.py:30-140): one request per
    row, accepted iff HTTP 204. destination metadata: [api_secret,
    is_event, is_user_property, non_personalized_ads, firebase_app_id?,
    measurement_id?]."""

    def __init__(
        self,
        execution: Execution,
        http_post: HttpPost = default_http_post,
        max_concurrency: int = 8,
    ):
        super().__init__(max_concurrency=max_concurrency)
        md = execution.destination.metadata
        self.api_secret = md[0]
        self.is_event = str(md[1]).lower() == "true"
        self.is_user_property = str(md[2]).lower() == "true"
        self.non_personalized_ads = str(md[3]).lower() == "true"
        self.firebase_app_id = md[4] if len(md) >= 5 and md[4] else None
        self.measurement_id = md[5] if len(md) >= 6 and md[5] else None
        self.http_post = http_post
        # reference :70-78 validation
        if not self.api_secret:
            raise ValueError("GA4 MP should be called with a non-null api_secret")
        if bool(self.firebase_app_id) == bool(self.measurement_id):
            raise ValueError(
                "GA4 MP should be called either with a firebase_app_id "
                "(for apps) or a measurement_id (for web)"
            )
        if self.is_event == self.is_user_property:
            raise ValueError(
                "GA4 MP should be called either for sending events or a "
                "user properties"
            )

    def url(self) -> str:
        # reference :109-124 url_container assembly
        url = f"{GA4_MP_URL}?api_secret={self.api_secret}"
        if self.firebase_app_id:
            url += f"&firebase_app_id={self.firebase_app_id}"
        else:
            url += f"&measurement_id={self.measurement_id}"
        return url

    def send_one(self, row: Row, context: dict[str, Any]) -> bool:
        body = payloads.ga4_measurement_protocol_event(
            row,
            non_personalized_ads=self.non_personalized_ads,
            is_user_property=self.is_user_property,
        )
        if self.firebase_app_id and not row.get("app_instance_id"):
            raise ValueError(
                "GA4 MP needs an app_instance_id parameter when used for "
                "an App Stream."
            )
        if self.measurement_id and not row.get("client_id"):
            raise ValueError(
                "GA4 MP needs a client_id parameter when used for a Web Stream."
            )
        status, _ = self.http_post(self.url(), json.dumps(body).encode("utf-8"))
        return status == 204  # reference :129


class GAMeasurementProtocolTransport(Transport):
    """Universal Analytics MP batch hits (reference
    google_analytics_measurement_protocol.py:30-110): newline-joined
    url-encoded hits POSTed to /batch, all-or-nothing per chunk (the MP
    batch endpoint has no per-hit status; non-200 raises → executor
    retry). Chunk size 20 comes from the executor's BATCH_SIZES."""

    def __init__(
        self,
        execution: Execution,
        http_post: HttpPost = default_http_post,
        hit_type: str = "event",
    ):
        self.execution = execution
        self.http_post = http_post
        self.hit_type = hit_type

    def send(self, payload: list[Row], context: dict[str, Any]) -> list[Row]:
        tracking_id = self.execution.destination.metadata[0]
        hits = [
            payloads.ga_measurement_protocol_hit(r, tracking_id, self.hit_type)
            for r in payload
        ]
        body = "\n".join(hits).encode("utf-8")
        status, content = self.http_post(
            GA_MP_BATCH_URL, body, {"User-Agent": GA_MP_USER_AGENT}
        )
        if status != 200:  # reference :108-110
            raise TransportError(
                f"Error uploading to Analytics HTTP {status}: {content!r}"
            )
        return payload


class GADataImportTransport(Transport):
    """GA Data Import CSV upload with pre-run erase (reference
    google_analytics_data_import_uploader.py:69-155 +
    google_analytics_data_import_eraser.py:60-125).

    destination metadata: [web_property_id, data_import_name].
    ``before_run`` deletes every previous upload of the data source (the
    eraser step that precedes the uploader in the reference pipeline);
    ``send`` renders the chunk with payloads.ga_data_import_csv and
    uploadData()s it."""

    def __init__(
        self,
        execution: Execution,
        credentials: OAuthCredentials | None = None,
        service_builder: Callable[[OAuthCredentials], Any] | None = None,
    ):
        self.execution = execution
        self.credentials = credentials or OAuthCredentials()
        self.service_builder = service_builder or partial(
            build_discovery_service, *ANALYTICS_API
        )
        self._service: Any = None
        self._data_source_id: str | None = None

    @property
    def _ga_account_id(self) -> str:
        return self.execution.account_config.google_analytics_account_id

    @property
    def _data_import_name(self) -> str:
        return self.execution.destination.metadata[1]

    def _ensure_service(self) -> Any:
        if self._service is None:
            self._service = self.service_builder(self.credentials)
        return self._service

    def _resolve_data_source_id(self) -> str:
        """reference uploader :95-104 / eraser :77-84: list
        customDataSources, match by name."""
        if self._data_source_id is None:
            web_property_id = self.execution.destination.metadata[0]
            data_import_name = self._data_import_name
            analytics = self._ensure_service()
            sources = (
                analytics.management()
                .customDataSources()
                .list(accountId=self._ga_account_id, webPropertyId=web_property_id)
                .execute()["items"]
            )
            matches = [s for s in sources if s["name"] == data_import_name]
            if len(matches) != 1:
                raise TransportError(
                    f"{data_import_name} - data import not found, please "
                    "configure it in Google Analytics"
                )
            self._data_source_id = matches[0]["id"]
        return self._data_source_id

    def before_run(self, context: dict[str, Any]) -> None:
        web_property_id = self.execution.destination.metadata[0]
        analytics = self._ensure_service()
        data_source_id = self._resolve_data_source_id()
        uploads = (
            analytics.management()
            .uploads()
            .list(
                accountId=self._ga_account_id,
                webPropertyId=web_property_id,
                customDataSourceId=data_source_id,
            )
            .execute()
        )
        file_ids = [u.get("id") for u in uploads.get("items", [])]
        if file_ids:  # eraser :104-125
            analytics.management().uploads().deleteUploadData(
                accountId=self._ga_account_id,
                webPropertyId=web_property_id,
                customDataSourceId=data_source_id,
                body={"customDataImportUids": file_ids},
            ).execute()

    def _upload_csv(self, csv: str) -> None:
        """uploadData one CSV to the data source (reference uploader
        :150-155)."""
        data_source_id = self._resolve_data_source_id()
        try:
            from googleapiclient.http import MediaInMemoryUpload
        except ImportError:
            MediaInMemoryUpload = None  # service_builder fakes accept bytes
        media = (
            MediaInMemoryUpload(
                csv.encode("utf-8"),
                mimetype="application/octet-stream",
                resumable=True,
            )
            if MediaInMemoryUpload is not None
            else csv.encode("utf-8")
        )
        self._ensure_service().management().uploads().uploadData(
            accountId=self._ga_account_id,
            webPropertyId=self.execution.destination.metadata[0],
            customDataSourceId=data_source_id,
            media_body=media,
        ).execute()

    def send(self, payload: list[Row], context: dict[str, Any]) -> list[Row]:
        self._upload_csv(payloads.ga_data_import_csv(payload))
        return payload


class DV360CustomerMatchTransport(Transport):
    """DV360 customer-match audience upsert (reference
    display_video/customer_match/abstract_uploader.py:34-222).

    destination metadata: [advertiser_id, list_name, ...,
    consent_ad_user_data?, consent_ad_personalization?].
    ``variant`` ∈ {'contact_info', 'mobile_device_id'} selects the
    contactInfoList / mobileDeviceIdList shape
    (contact_info_uploader.py:25-74, mobile_uploader.py). Per reference
    semantics: if the audience didn't exist, create() WITH the first
    chunk's members and skip edit for that chunk; otherwise
    editCustomerMatchMembers with the added list."""

    ROW_KEYS = {
        "contact_info": [
            "hashedEmails",
            "hashedPhoneNumbers",
            "hashedFirstName",
            "hashedLastName",
            "countryCode",
            "zipCodes",
        ],
        "mobile_device_id": ["mobileDeviceIds"],
    }

    def __init__(
        self,
        execution: Execution,
        credentials: OAuthCredentials | None = None,
        service_builder: Callable[[OAuthCredentials], Any] | None = None,
        variant: str = "contact_info",
        app_id: str | None = None,
    ):
        md = execution.destination.metadata
        if not md or not md[0]:
            raise ValueError(f"Missing destination information. Received {md}")
        if len(md) < 2 or not md[1]:
            raise ValueError(f"Missing list_name information. Received {md}")
        if variant not in self.ROW_KEYS:
            raise ValueError(f"unknown DV360 customer match variant: {variant}")
        self.execution = execution
        self.credentials = credentials or OAuthCredentials()
        self.service_builder = service_builder or partial(build_discovery_service, *DV_API)
        self.variant = variant
        self.app_id = app_id
        self._service: Any = None
        self._audience: Row | None = None

    @property
    def advertiser_id(self) -> str:
        return self.execution.destination.metadata[0]

    @property
    def list_name(self) -> str:
        return self.execution.destination.metadata[1]

    def _consents(self) -> Row:
        # contact_info_uploader.py:49-61 — camelCase keys, unlike Ads
        md = self.execution.destination.metadata
        if len(md) >= 7 and md[5] is not None and md[6] is not None:
            return {"consent": {"adUserData": md[5], "adPersonalization": md[6]}}
        return {}

    def _audiences(self) -> Any:
        if self._service is None:
            self._service = self.service_builder(self.credentials)
        return self._service.firstAndThirdPartyAudiences()

    def _members(self, payload: list[Row]) -> list[Row]:
        if self.variant == "contact_info":
            return [payloads.dv_customer_match_contact(r) for r in payload]
        return [r["mobileDeviceIds"] for r in payload if r.get("mobileDeviceIds")]

    def _member_list(self, members: list[Any], added: bool) -> Row:
        consent = self._consents()
        if self.variant == "contact_info":
            key = "addedContactInfoList" if added else "contactInfoList"
            return {key: {"contactInfos": members, **consent}}
        key = "addedMobileDeviceIdList" if added else "mobileDeviceIdList"
        body: Row = {key: {"mobileDeviceIds": members, **consent}}
        return body

    def _list_definition(self, members: list[Any]) -> Row:
        # contact_info_uploader.py:27-41 / mobile_uploader.py
        base: Row = {
            "displayName": self.list_name,
            "firstAndThirdPartyAudienceType": (
                "FIRST_AND_THIRD_PARTY_AUDIENCE_TYPE_FIRST_PARTY"
            ),
            "audienceType": (
                "CUSTOMER_MATCH_CONTACT_INFO"
                if self.variant == "contact_info"
                else "CUSTOMER_MATCH_DEVICE_ID"
            ),
            "membershipDurationDays": 10000,
            "description": "List created automatically by Megalista",
            **self._member_list(members, added=False),
        }
        if self.variant == "mobile_device_id" and self.app_id:
            base["appId"] = self.app_id
        return base

    def _lookup_audience(self) -> Row | None:
        # abstract_uploader.py:117-131 — displayName filter, pageSize 1
        response = (
            self._audiences()
            .list(
                advertiserId=self.advertiser_id,
                pageSize=1,
                filter=f'displayName : "{self.list_name}"',
            )
            .execute()
        )
        if response and response.get("firstAndThirdPartyAudiences"):
            return dict(response["firstAndThirdPartyAudiences"][0])
        return None

    def send(self, payload: list[Row], context: dict[str, Any]) -> list[Row]:
        members = self._members(payload)
        if self._audience is None:
            found = self._lookup_audience()
            if found is None:
                # create WITH this chunk's members; skip edit (reference
                # was_audience_created semantics, abstract_uploader.py:184-206)
                self._audience = (
                    self._audiences()
                    .create(
                        advertiserId=self.advertiser_id,
                        body=self._list_definition(members),
                    )
                    .execute()
                )
                return payload
            self._audience = found
        body = {
            "advertiserId": self.advertiser_id,
            **self._member_list(members, added=True),
        }
        self._audiences().editCustomerMatchMembers(
            firstAndThirdPartyAudienceId=self._audience[
                "firstAndThirdPartyAudienceId"
            ],
            body=body,
        ).execute()
        return payload


class AppsFlyerS2STransport(ConcurrentSendTransport):
    """AppsFlyer S2S events (reference
    appsflyer_s2s_uploader_async.py:30-140): one JSON POST per event to
    inappevent/{app_id} with the dev key in the ``authentication``
    header; accepted iff HTTP 200; the 500 events/sec budget is paced by
    the sink executor (RATE_LIMITS)."""

    def __init__(
        self,
        execution: Execution,
        dev_key: str,
        http_post: HttpPost = default_http_post,
        max_concurrency: int = 8,
    ):
        super().__init__(max_concurrency=max_concurrency)
        self.app_id = execution.destination.metadata[0]
        self.dev_key = dev_key
        self.http_post = http_post

    def send_one(self, row: Row, context: dict[str, Any]) -> bool:
        body = payloads.appsflyer_event(row, self.app_id)
        body["af_events_api"] = "true"  # reference :47
        status, _ = self.http_post(
            APPSFLYER_URL + self.app_id,
            json.dumps(body).encode("utf-8"),
            {"authentication": self.dev_key, "Content-Type": "application/json"},
        )
        return status == 200


class GAUserListTransport(GADataImportTransport):
    """GA user-list upload (reference
    google_analytics_user_list_uploader.py:30-175): the data-import
    transport specialized to the user-list CSV shape, plus remarketing
    audience create-if-missing.

    destination metadata: [web_property_id, view_id, data_import_name,
    user_id_list_name, user_id_custom_dim, buyer_custom_dim,
    custom_dim_field?]. ``before_run`` creates the SIMPLE remarketing
    audience exactly once when user_id_list_name is set (:138-140,
    :46-93 — segment users::condition::<buyer_dim>==buyer, 365-day
    membership, MCC_LINKS/ADWORDS_LINKS by account type); the eraser is
    NOT part of this uploader. send() renders the two-column
    (user_id_custom_dim, buyer_custom_dim) CSV (:153-157)."""

    def __init__(
        self,
        execution: Execution,
        credentials: OAuthCredentials | None = None,
        service_builder: Callable[[OAuthCredentials], Any] | None = None,
    ):
        md = execution.destination.metadata
        # reference _assert_all_list_names_are_present(:96-106)
        if len(md) < 6:
            raise ValueError(
                f"Missing destination information. Found {len(md)}"
            )
        if not (md[0] and md[1] and md[2] and md[4] and md[5]):
            raise ValueError(
                f"Missing destination information. Received {md}"
            )
        super().__init__(
            execution, credentials=credentials, service_builder=service_builder
        )

    @property
    def _data_import_name(self) -> str:
        # data import name is metadata[2] here (vs [1] for GA_DATA_IMPORT)
        return self.execution.destination.metadata[2]

    def before_run(self, context: dict[str, Any]) -> None:
        md = self.execution.destination.metadata
        web_property_id, view_id, list_name, buyer_dim = md[0], md[1], md[3], md[5]
        if not list_name:
            return
        analytics = self._ensure_service()
        acc = self.execution.account_config
        existing = (
            analytics.management()
            .remarketingAudience()
            .list(accountId=acc.google_analytics_account_id,
                  webPropertyId=web_property_id)
            .execute()["items"]
        )
        if any(a["name"] == list_name for a in existing):
            return
        analytics.management().remarketingAudience().insert(
            accountId=acc.google_analytics_account_id,
            webPropertyId=web_property_id,
            body={
                "name": list_name,
                "linkedViews": [view_id],
                "linkedAdAccounts": [
                    {
                        "type": "MCC_LINKS" if acc.mcc else "ADWORDS_LINKS",
                        "linkedAccountId": acc.google_ads_account_id,
                    }
                ],
                "audienceType": "SIMPLE",
                "audienceDefinition": {
                    "includeConditions": {
                        "kind": "analytics#includeConditions",
                        "isSmartList": False,
                        "segment": f"users::condition::{buyer_dim}==buyer",
                        "membershipDurationDays": 365,
                    }
                },
            },
        ).execute()

    def send(self, payload: list[Row], context: dict[str, Any]) -> list[Row]:
        md = self.execution.destination.metadata
        user_dim, buyer_dim = md[4], md[5]
        custom_dim_field = md[6] if len(md) > 6 else None
        # reference :153-157 — header is the dim PAIR, not ga:-prefixed
        body = "\n".join(
            [
                f"{user_dim},{buyer_dim}",
                *[
                    "%s,%s"
                    % (
                        r["user_id"],
                        r[custom_dim_field] if custom_dim_field else "buyer",
                    )
                    for r in payload
                ],
            ]
        )
        self._upload_csv(body)
        return payload

"""Live-adapter tests: fake service factories / HTTP recorders assert the
EXACT requests the reference's mocked-API tests assert (see each test's
reference citation). No network, no client libs — the seams are the
constructor injectables the live defaults also use.
"""

from __future__ import annotations

import json
from types import SimpleNamespace
from urllib.parse import parse_qs

import pytest

from megalista_spark.models.credentials import OAuthCredentials
from megalista_spark.models.execution import (
    AccountConfig,
    Destination,
    DestinationType,
    Execution,
    Source,
    SourceType,
)
from megalista_spark.sinks.adapters import (
    AppsFlyerS2STransport,
    CampaignManagerConversionsTransport,
    DV360CustomerMatchTransport,
    GA4MeasurementProtocolTransport,
    GADataImportTransport,
    GAMeasurementProtocolTransport,
    GoogleAdsConversionsTransport,
    LiveAdsClient,
    TransportError,
    partial_failure_failed_indices,
)
from megalista_spark.sinks.customer_match import CustomerMatchTransport

# reference google_ads_offline_conversions_uploader_test.py:31
ACCOUNT = AccountConfig("123-45567-890", False, "ga_account_id", "", "")
SOURCE = Source("orig1", SourceType.BIG_QUERY, ("dt1", "buyers"))


def _execution(dtype, metadata):
    return Execution(ACCOUNT, SOURCE, Destination("dest1", dtype, tuple(metadata)))


# ------------------------------------------------------- Google Ads fakes


class FakeSearchStreamService:
    """GoogleAdsService fake: returns a conversion_action / user_list
    resource name for any GAQL query, recording the calls."""

    def __init__(self, resource_name):
        self.resource_name = resource_name
        self.calls = []

    def search_stream(self, customer_id, query):
        self.calls.append({"customer_id": customer_id, "query": query})
        if self.resource_name is None:
            return []
        if "conversion_action" in query:
            row = SimpleNamespace(
                conversion_action=SimpleNamespace(resource_name=self.resource_name)
            )
        else:
            row = SimpleNamespace(
                user_list=SimpleNamespace(resource_name=self.resource_name)
            )
        return [SimpleNamespace(results=[row])]


class FakeConversionUploadService:
    def __init__(self, results):
        self.results = results
        self.requests = []

    def upload_click_conversions(self, request):
        self.requests.append(("click", request))
        return SimpleNamespace(results=self.results, partial_failure_error=None)

    def upload_call_conversions(self, request):
        self.requests.append(("call", request))
        return SimpleNamespace(results=self.results, partial_failure_error=None)


class FakeAdsFactory:
    def __init__(self, services):
        self.services = services
        self.gets = []

    def get(self, service_name, login_customer_id):
        self.gets.append((service_name, login_customer_id))
        return self.services[service_name]


def test_ads_oci_payload_golden():
    """reference google_ads_offline_conversions_uploader_test.py:69-137
    (test_conversion_upload): exact GAQL + upload request, success filter
    keeps only rows whose gclid came back."""
    ga = FakeSearchStreamService("user_list_resouce")
    oc = FakeConversionUploadService(
        [SimpleNamespace(gclid=None), SimpleNamespace(gclid="567")]
    )
    factory = FakeAdsFactory(
        {"GoogleAdsService": ga, "ConversionUploadService": oc}
    )
    t = GoogleAdsConversionsTransport(
        _execution(DestinationType.ADS_OFFLINE_CONVERSION, ["user_list"]), factory
    )
    element1 = {"time": "2020-04-09T14:13:55.0005", "amount": "123", "gclid": "456"}
    element2 = {"time": "2020-04-09T13:13:55.0005", "amount": "234", "gclid": "567"}
    accepted = t.send([element1, element2], {})

    assert accepted == [element2]
    assert ga.calls == [
        {
            "customer_id": "12345567890",
            "query": "SELECT conversion_action.resource_name FROM "
            "conversion_action WHERE conversion_action.name = 'user_list'",
        }
    ]
    assert oc.requests == [
        (
            "click",
            {
                "customer_id": "12345567890",
                "partial_failure": True,
                "validate_only": False,
                "conversions": [
                    {
                        "conversion_action": "user_list_resouce",
                        "conversion_date_time": "2020-04-09 14:13:55-03:00",
                        "conversion_value": 123,
                        "gclid": "456",
                    },
                    {
                        "conversion_action": "user_list_resouce",
                        "conversion_date_time": "2020-04-09 13:13:55-03:00",
                        "conversion_value": 234,
                        "gclid": "567",
                    },
                ],
            },
        )
    ]
    # both services were fetched with the login customer id (non-MCC →
    # the destination/account customer id)
    assert set(factory.gets) == {
        ("GoogleAdsService", "12345567890"),
        ("ConversionUploadService", "12345567890"),
    }


def test_ads_oci_account_override():
    """reference test_upload_with_ads_account_override:140-202 — metadata[1]
    digits-only override."""
    ga = FakeSearchStreamService("user_list_resouce")
    oc = FakeConversionUploadService([SimpleNamespace(gclid="456")])
    factory = FakeAdsFactory(
        {"GoogleAdsService": ga, "ConversionUploadService": oc}
    )
    t = GoogleAdsConversionsTransport(
        _execution(
            DestinationType.ADS_OFFLINE_CONVERSION, ["user_list", "987-7654-123"]
        ),
        factory,
    )
    t.send([{"time": "2020-04-09T14:13:55.0005", "amount": "123", "gclid": "456"}], {})
    assert ga.calls[0]["customer_id"] == "9877654123"
    assert oc.requests[0][1]["customer_id"] == "9877654123"


def test_ads_oci_consent_and_external_attribution():
    """reference test_conversion_upload_with_consent:455-529 +
    ..._with_external_attribution:365-453 payload shapes."""
    ga = FakeSearchStreamService("user_list_resouce")
    oc = FakeConversionUploadService([])
    factory = FakeAdsFactory(
        {"GoogleAdsService": ga, "ConversionUploadService": oc}
    )
    t = GoogleAdsConversionsTransport(
        _execution(DestinationType.ADS_OFFLINE_CONVERSION, ["user_list"]), factory
    )
    t.send(
        [
            {
                "time": "2020-04-09T14:13:55.0005",
                "amount": "123",
                "gclid": "456",
                "consent_ad_user_data": "GRANTED",
                "consent_ad_personalization": "DENIED",
            },
            {
                "time": "2020-04-09T13:13:55.0005",
                "amount": "234",
                "gclid": "567",
                "external_attribution_credit": 0.6,
                "external_attribution_model": "teste_attribution",
            },
        ],
        {},
    )
    sent = oc.requests[0][1]["conversions"]
    assert sent[0]["consent"] == {
        "ad_user_data": "GRANTED",
        "ad_personalization": "DENIED",
    }
    assert "external_attribution_data" not in sent[0]
    assert sent[1]["external_attribution_data"] == {
        "external_attribution_credit": 0.6,
        "external_attribution_model": "teste_attribution",
    }
    assert "consent" not in sent[1]


def test_ads_oci_missing_conversion_action_raises():
    """reference _get_resource_name:146-152 raise path + missing-metadata
    assert (:69-78)."""
    factory = FakeAdsFactory(
        {
            "GoogleAdsService": FakeSearchStreamService(None),
            "ConversionUploadService": FakeConversionUploadService([]),
        }
    )
    t = GoogleAdsConversionsTransport(
        _execution(DestinationType.ADS_OFFLINE_CONVERSION, ["nope"]), factory
    )
    with pytest.raises(TransportError, match='Conversion "nope" could not be found'):
        t.send([{"time": "2020-04-09T14:13:55.0005", "amount": "1", "gclid": "g"}], {})
    with pytest.raises(ValueError, match="Missing destination information"):
        GoogleAdsConversionsTransport(
            _execution(DestinationType.ADS_OFFLINE_CONVERSION, [""]), factory
        )


def test_ads_mcc_login_customer_id():
    """reference _get_login_customer_id:60-67 — MCC logs in with the MCC
    account id but queries the override customer."""
    mcc_account = AccountConfig("111-222-3333", True, "", "", "")
    exec_ = Execution(
        mcc_account,
        SOURCE,
        Destination(
            "d",
            DestinationType.ADS_OFFLINE_CONVERSION,
            ("conv", "987-7654-123"),
        ),
    )
    ga = FakeSearchStreamService("rn")
    oc = FakeConversionUploadService([])
    factory = FakeAdsFactory(
        {"GoogleAdsService": ga, "ConversionUploadService": oc}
    )
    t = GoogleAdsConversionsTransport(exec_, factory)
    t.send([{"time": "2020-04-09T14:13:55.0005", "amount": "1", "gclid": "g"}], {})
    assert ("GoogleAdsService", "1112223333") in factory.gets
    assert ga.calls[0]["customer_id"] == "9877654123"


# ------------------------------------------- LiveAdsClient (customer match)


class FakeUserListService:
    def __init__(self):
        self.requests = []

    def mutate_user_lists(self, request):
        self.requests.append(request)
        return SimpleNamespace(
            results=[SimpleNamespace(resource_name="userLists/created")]
        )


class FakeOfflineJobService:
    def __init__(self, failed_response=None):
        self.created = []
        self.added = []
        self.ran = []
        self.failed_response = failed_response
        self._n = 0

    def create_offline_user_data_job(self, customer_id, job):
        self._n += 1
        self.created.append({"customer_id": customer_id, "job": job})
        return SimpleNamespace(resource_name=f"jobs/{self._n}")

    def add_offline_user_data_job_operations(self, request):
        self.added.append(request)
        if self.failed_response is not None:
            return self.failed_response
        return SimpleNamespace(partial_failure_error=None, results=[])

    def run_offline_user_data_job(self, resource_name):
        self.ran.append(resource_name)


def _ads_client(search=None, joblist=None, userlist=None):
    factory = FakeAdsFactory(
        {
            "GoogleAdsService": search or FakeSearchStreamService(None),
            "UserListService": userlist or FakeUserListService(),
            "OfflineUserDataJobService": joblist or FakeOfflineJobService(),
        }
    )
    return LiveAdsClient(factory, "12345567890"), factory


def test_live_ads_client_list_lookup_and_create():
    """reference abstract_uploader.py:106-118 (OWNED query) and :86-98
    (mutate_user_lists create request)."""
    search = FakeSearchStreamService(None)
    userlist = FakeUserListService()
    client, _ = _ads_client(search=search, userlist=userlist)

    assert client.get_user_list("12345567890", "crm list") is None
    assert search.calls == [
        {
            "customer_id": "12345567890",
            "query": "SELECT user_list.resource_name, user_list.access_reason "
            "FROM user_list WHERE user_list.name='crm list' "
            "AND user_list.access_reason='OWNED'",
        }
    ]
    definition = {
        "name": "crm list",
        "membership_life_span": 10000,
        "crm_based_user_list": {"upload_key_type": "CONTACT_INFO"},
    }
    assert client.create_user_list("12345567890", definition) == "userLists/created"
    assert userlist.requests == [
        {
            "customer_id": "12345567890",
            "partial_failure": False,
            "validate_only": False,
            "operations": [{"create": definition}],
        }
    ]


def test_live_ads_client_job_lifecycle():
    """reference abstract_uploader.py:170-182 job creation payload,
    :257-264 add-operations request, :49-53 run."""
    jobs = FakeOfflineJobService()
    client, _ = _ads_client(joblist=jobs)
    consents = {"consent": {"ad_user_data": "GRANTED", "ad_personalization": "GRANTED"}}
    job = client.create_offline_user_data_job(
        "12345567890", "userLists/x", consents
    )
    assert job == "jobs/1"
    assert jobs.created == [
        {
            "customer_id": "12345567890",
            "job": {
                "type_": "CUSTOMER_MATCH_USER_LIST",
                "customer_match_user_list_metadata": {
                    "user_list": "userLists/x",
                    **consents,
                },
            },
        }
    ]
    ops = [{"create": {"user_identifiers": [{"hashed_email": "abc"}]}}]
    assert client.add_job_operations(job, ops) == []
    assert jobs.added == [
        {
            "resource_name": "jobs/1",
            "enable_partial_failure": True,
            "operations": ops,
        }
    ]
    client.run_job(job)
    assert jobs.ran == ["jobs/1"]


def test_partial_failure_indices_extraction():
    fpe = SimpleNamespace(index=1)
    err = SimpleNamespace(location=SimpleNamespace(field_path_elements=[fpe]))
    failure = SimpleNamespace(errors=[err])
    response = SimpleNamespace(
        partial_failure_error=SimpleNamespace(
            message="1 op failed", details=[failure]
        )
    )
    failed, msg = partial_failure_failed_indices(response)
    assert failed == [1]
    assert msg == "1 op failed"
    ok = SimpleNamespace(partial_failure_error=None)
    assert partial_failure_failed_indices(ok) == ([], None)


def _pf_response(details):
    return SimpleNamespace(
        partial_failure_error=SimpleNamespace(message="failed", details=details)
    )


def test_partial_failure_unpacks_any_wrapped_failure():
    """Live responses wrap each GoogleAdsFailure in a protobuf Any whose
    ``value`` holds the payload; an unpacked object value must be read
    through, and raw bytes must NOT silently yield zero failures."""
    fpe = SimpleNamespace(index=3)
    err = SimpleNamespace(location=SimpleNamespace(field_path_elements=[fpe]))
    detail = SimpleNamespace(
        type_url="type.googleapis.com/google.ads.googleads.v17.errors.GoogleAdsFailure",
        value=SimpleNamespace(errors=[err]),
    )
    failed, msg = partial_failure_failed_indices(_pf_response([detail]))
    assert failed == [3] and msg == "failed"


def test_partial_failure_bytes_without_client_lib_raises():
    """Packed-Any bytes need GoogleAdsFailure.deserialize; with the
    client library absent the decode MUST raise — returning [] would
    mark the failed rows as uploaded in the transactional control."""
    detail = SimpleNamespace(
        type_url="type.googleapis.com/google.ads.googleads.v17.errors.GoogleAdsFailure",
        value=b"\x0a\x02\x08\x01",
    )
    with pytest.raises(TransportError, match="undecodable"):
        partial_failure_failed_indices(_pf_response([detail]))


def test_partial_failure_unparseable_detail_raises():
    detail = SimpleNamespace(type_url="t", value=SimpleNamespace(no_errors=True))
    with pytest.raises(TransportError, match="lacks an errors list"):
        partial_failure_failed_indices(_pf_response([detail]))


def test_gaql_quote_escapes_single_quotes():
    from megalista_spark.sinks.adapters import gaql_quote

    assert gaql_quote("o'brien list") == "o\\'brien list"
    assert gaql_quote("back\\slash'") == "back\\\\slash\\'"
    search = FakeSearchStreamService(None)
    client, _ = _ads_client(search=search)
    client.get_user_list("123", "o'brien list")
    assert "user_list.name='o\\'brien list'" in search.calls[-1]["query"]


def test_customer_match_through_live_client():
    """CustomerMatchTransport (golden-tested seam) drives the live client:
    the composed call sequence matches abstract_uploader.py:214-271."""
    search = FakeSearchStreamService(None)
    jobs = FakeOfflineJobService()
    userlist = FakeUserListService()
    client, _ = _ads_client(search=search, joblist=jobs, userlist=userlist)
    exec_ = _execution(
        DestinationType.ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD,
        ["crm list", "ADD", "", ""],
    )
    t = CustomerMatchTransport(
        exec_,
        row_keys=["hashed_email"],
        list_definition={"name": "crm list"},
        client=client,
    )
    accepted = t.send([{"hashed_email": "aaa"}, {"hashed_email": "bbb"}], {})
    t.close({})
    assert len(accepted) == 2
    assert jobs.added[0]["operations"] == [
        {"create": {"user_identifiers": [{"hashed_email": "aaa"}]}},
        {"create": {"user_identifiers": [{"hashed_email": "bbb"}]}},
    ]
    assert jobs.ran == ["jobs/1"]


# ------------------------------------------------------- Campaign Manager


class FakeDcmService:
    """Records conversions().batchinsert(profileId, body) like the
    reference test's MagicMock chain."""

    def __init__(self, response):
        self.response = response
        self.batchinserts = []

    def conversions(self):
        return self

    def batchinsert(self, profileId, body):
        self.batchinserts.append({"profileId": profileId, "body": body})
        return self

    def execute(self):
        return self.response


def _cm_execution():
    account = AccountConfig("", False, "", "5566", "")
    return Execution(
        account,
        SOURCE,
        Destination(
            "d",
            DestinationType.CM_OFFLINE_CONVERSION,
            ("floodlight_activity", "floodlight_config"),
        ),
    )


def test_cm_conversions_payload_golden():
    """reference campaign_manager_conversion_uploader_test.py:64-108 —
    gclid row, quantity default 1, fixed timestampMicros/ordinal."""
    svc = FakeDcmService({"hasFailures": False})
    t = CampaignManagerConversionsTransport(
        _cm_execution(), service_builder=lambda creds: svc, now_micros=123_000_000
    )
    accepted = t.send([{"gclid": "123"}], {})
    assert accepted == [{"gclid": "123"}]
    assert svc.batchinserts == [
        {
            "profileId": "5566",
            "body": {
                "conversions": [
                    {
                        "floodlightActivityId": "floodlight_activity",
                        "floodlightConfigurationId": "floodlight_config",
                        "quantity": 1,
                        "gclid": "123",
                        "timestampMicros": 123_000_000,
                        "ordinal": "123000000",
                    }
                ]
            },
        }
    ]


def test_cm_identifier_priority_and_status_filter():
    """reference :100-111 identifier priority (gclid wins over
    encryptedUserId etc.) and :337-361 hasFailures handling — rejected
    rows are the ones whose index-aligned status has errors."""
    svc = FakeDcmService(
        {
            "hasFailures": True,
            "status": [
                {"errors": [{"code": "123", "message": "error_returned"}]},
                {},
            ],
        }
    )
    t = CampaignManagerConversionsTransport(
        _cm_execution(), service_builder=lambda creds: svc, now_micros=1
    )
    rows = [
        {"gclid": "g", "encryptedUserId": "e", "mobileDeviceId": "m"},
        {"encryptedUserId": "e2"},
    ]
    accepted = t.send(rows, {})
    assert accepted == [rows[1]]
    sent = svc.batchinserts[0]["body"]["conversions"]
    assert sent[0].get("gclid") == "g" and "encryptedUserId" not in sent[0]
    assert sent[1].get("encryptedUserId") == "e2"


def test_cm_truncated_statuses_reject_unconfirmed_rows():
    """With hasFailures set, rows without an index-aligned status entry
    are unconfirmed — a truncated response must NOT mark them uploaded."""
    svc = FakeDcmService({"hasFailures": True, "status": [{}]})
    t = CampaignManagerConversionsTransport(
        _cm_execution(), service_builder=lambda creds: svc, now_micros=1
    )
    rows = [{"gclid": "a"}, {"gclid": "b"}, {"gclid": "c"}]
    assert t.send(rows, {}) == [rows[0]]


def test_cm_missing_metadata_raises():
    account = AccountConfig("", False, "", "5566", "")
    with pytest.raises(ValueError, match="Missing destination information"):
        CampaignManagerConversionsTransport(
            Execution(
                account,
                SOURCE,
                Destination("d", DestinationType.CM_OFFLINE_CONVERSION, ("only_one",)),
            ),
            service_builder=lambda creds: None,
        )


# ----------------------------------------------------------------- GA4 MP


class HttpRecorder:
    def __init__(self, status=204):
        self.status = status
        self.posts = []

    def __call__(self, url, data, headers=None):
        self.posts.append({"url": url, "data": data, "headers": headers or {}})
        return self.status, b""


def test_ga4_mp_event_payload_golden():
    """reference google_analytics_4_measurement_protocol.py:84-129 — web
    stream event with api_secret+measurement_id in the url, one POST per
    row, 204 accepted."""
    http = HttpRecorder(status=204)
    t = GA4MeasurementProtocolTransport(
        _execution(
            DestinationType.GA_4_MEASUREMENT_PROTOCOL,
            ["secret", "true", "false", "false", "", "M-123"],
        ),
        http_post=http,
    )
    row = {"client_id": "c1", "name": "purchase", "value": 42, "user_id": "u9"}
    accepted = t.send([row], {})
    assert accepted == [row]
    assert len(http.posts) == 1
    assert (
        http.posts[0]["url"]
        == "https://www.google-analytics.com/mp/collect?api_secret=secret"
        "&measurement_id=M-123"
    )
    assert json.loads(http.posts[0]["data"]) == {
        "nonPersonalizedAds": False,
        "events": [{"name": "purchase", "params": {"value": 42}}],
        "client_id": "c1",
        "user_id": "u9",
    }


def test_ga4_mp_rejects_on_non_204_and_validates_metadata():
    http = HttpRecorder(status=500)
    t = GA4MeasurementProtocolTransport(
        _execution(
            DestinationType.GA_4_MEASUREMENT_PROTOCOL,
            ["secret", "true", "false", "false", "", "M-123"],
        ),
        http_post=http,
    )
    assert t.send([{"client_id": "c1", "name": "n"}], {}) == []
    with pytest.raises(ValueError, match="api_secret"):
        GA4MeasurementProtocolTransport(
            _execution(
                DestinationType.GA_4_MEASUREMENT_PROTOCOL,
                ["", "true", "false", "false", "", "M-123"],
            )
        )
    with pytest.raises(ValueError, match="firebase_app_id"):
        GA4MeasurementProtocolTransport(
            _execution(
                DestinationType.GA_4_MEASUREMENT_PROTOCOL,
                ["secret", "true", "false", "false", "F-1", "M-123"],
            )
        )


def test_ga_mp_batch_hits():
    """reference google_analytics_measurement_protocol.py:100-110 —
    newline-joined hits to /batch, 200 accepts the chunk, else raise."""
    http = HttpRecorder(status=200)
    t = GAMeasurementProtocolTransport(
        _execution(DestinationType.GA_MEASUREMENT_PROTOCOL, ["UA-1", "1"]),
        http_post=http,
    )
    rows = [
        {"client_id": "c1", "event_category": "cat", "event_action": "act"},
        {"client_id": "c2", "event_category": "cat2", "event_action": "act2"},
    ]
    assert t.send(rows, {}) == rows
    body = http.posts[0]["data"].decode()
    hits = body.split("\n")
    assert len(hits) == 2
    q = parse_qs(hits[0])
    assert q["tid"] == ["UA-1"] and q["cid"] == ["c1"] and q["t"] == ["event"]
    assert http.posts[0]["headers"]["User-Agent"].startswith("Mozilla/5.0")

    t_fail = GAMeasurementProtocolTransport(
        _execution(DestinationType.GA_MEASUREMENT_PROTOCOL, ["UA-1", "1"]),
        http_post=HttpRecorder(status=500),
    )
    with pytest.raises(TransportError, match="HTTP 500"):
        t_fail.send(rows, {})


# ---------------------------------------------------------- GA Data Import


class FakeAnalyticsService:
    """Records the management().customDataSources()/uploads() chain."""

    def __init__(self):
        self.upload_lists = []
        self.deletes = []
        self.upload_calls = []
        self.existing_uploads = [{"id": "f1"}, {"id": "f2"}]

    def management(self):
        return self

    def customDataSources(self):
        return self

    def list(self, **kw):
        if "customDataSourceId" in kw:
            self.upload_lists.append(kw)
            return _Exec({"items": self.existing_uploads})
        return _Exec({"items": [{"name": "my import", "id": "ds1"}]})

    def uploads(self):
        return self

    def deleteUploadData(self, **kw):
        self.deletes.append(kw)
        return _Exec(None)

    def uploadData(self, **kw):
        self.upload_calls.append(kw)
        return _Exec(None)


class _Exec:
    def __init__(self, value):
        self.value = value

    def execute(self):
        return self.value


def test_ga_data_import_erase_then_upload():
    """reference eraser :77-125 (list uploads → deleteUploadData with the
    file ids) then uploader :100-155 (uploadData with the CSV media)."""
    svc = FakeAnalyticsService()
    account = AccountConfig("", False, "54321", "", "")
    exec_ = Execution(
        account,
        SOURCE,
        Destination(
            "d", DestinationType.GA_DATA_IMPORT, ("UA-prop", "my import")
        ),
    )
    t = GADataImportTransport(exec_, service_builder=lambda creds: svc)
    t.before_run({})
    assert svc.deletes == [
        {
            "accountId": "54321",
            "webPropertyId": "UA-prop",
            "customDataSourceId": "ds1",
            "body": {"customDataImportUids": ["f1", "f2"]},
        }
    ]
    rows = [{"dim1": "a", "dim2": "b"}, {"dim1": "c", "dim2": None}]
    assert t.send(rows, {}) == rows
    up = svc.upload_calls[0]
    assert up["accountId"] == "54321"
    assert up["webPropertyId"] == "UA-prop"
    assert up["customDataSourceId"] == "ds1"
    assert up["media_body"] == b"ga:dim1,ga:dim2\na,b\nc,"


def test_ga_data_import_unknown_source_raises():
    svc = FakeAnalyticsService()
    account = AccountConfig("", False, "54321", "", "")
    exec_ = Execution(
        account,
        SOURCE,
        Destination("d", DestinationType.GA_DATA_IMPORT, ("UA-prop", "nope")),
    )
    t = GADataImportTransport(exec_, service_builder=lambda creds: svc)
    with pytest.raises(TransportError, match="data import not found"):
        t.send([{"a": 1}], {})


# ------------------------------------------------------------------ DV360


class FakeDvAudiences:
    def __init__(self, existing=None):
        self.existing = existing
        self.lists = []
        self.creates = []
        self.edits = []

    def firstAndThirdPartyAudiences(self):
        return self

    def list(self, **kw):
        self.lists.append(kw)
        return _Exec(
            {"firstAndThirdPartyAudiences": [self.existing]} if self.existing else {}
        )

    def create(self, advertiserId, body):
        self.creates.append({"advertiserId": advertiserId, "body": body})
        return _Exec(
            {"displayName": body["displayName"], "firstAndThirdPartyAudienceId": "99"}
        )

    def editCustomerMatchMembers(self, firstAndThirdPartyAudienceId, body):
        self.edits.append(
            {"firstAndThirdPartyAudienceId": firstAndThirdPartyAudienceId, "body": body}
        )
        return _Exec({})


def _dv_execution(extra=()):
    return _execution(
        DestinationType.DV_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD,
        ["adv-1", "dv list", *extra],
    )


def test_dv360_creates_list_with_first_chunk():
    """reference display_video abstract_uploader.py:184-206: missing
    audience → create() carries the first chunk's members, edit skipped;
    list definition per contact_info_uploader.py:27-41."""
    svc = FakeDvAudiences(existing=None)
    t = DV360CustomerMatchTransport(
        _dv_execution(), service_builder=lambda creds: svc
    )
    rows = [{"hashedEmails": "he1"}, {"hashedEmails": "he2", "countryCode": "BR"}]
    assert t.send(rows, {}) == rows
    assert svc.lists == [
        {"advertiserId": "adv-1", "pageSize": 1, "filter": 'displayName : "dv list"'}
    ]
    assert svc.creates == [
        {
            "advertiserId": "adv-1",
            "body": {
                "displayName": "dv list",
                "firstAndThirdPartyAudienceType": (
                    "FIRST_AND_THIRD_PARTY_AUDIENCE_TYPE_FIRST_PARTY"
                ),
                "audienceType": "CUSTOMER_MATCH_CONTACT_INFO",
                "membershipDurationDays": 10000,
                "description": "List created automatically by Megalista",
                "contactInfoList": {
                    "contactInfos": [
                        {"hashedEmails": ["he1"]},
                        {"hashedEmails": ["he2"], "countryCode": "BR"},
                    ]
                },
            },
        }
    ]
    assert svc.edits == []
    # second chunk goes through edit with the added list (reference
    # :206-218 + contact_info_uploader.py:63-74)
    t.send([{"hashedEmails": "he3"}], {})
    assert svc.edits == [
        {
            "firstAndThirdPartyAudienceId": "99",
            "body": {
                "advertiserId": "adv-1",
                "addedContactInfoList": {
                    "contactInfos": [{"hashedEmails": ["he3"]}]
                },
            },
        }
    ]


def test_dv360_existing_list_edits_with_consent():
    svc = FakeDvAudiences(
        existing={"displayName": "dv list", "firstAndThirdPartyAudienceId": "7"}
    )
    t = DV360CustomerMatchTransport(
        _dv_execution(["x", "y", "z", "GRANTED", "GRANTED"]),
        service_builder=lambda creds: svc,
    )
    t.send([{"hashedEmails": "he1"}], {})
    assert svc.creates == []
    assert svc.edits == [
        {
            "firstAndThirdPartyAudienceId": "7",
            "body": {
                "advertiserId": "adv-1",
                "addedContactInfoList": {
                    "contactInfos": [{"hashedEmails": ["he1"]}],
                    "consent": {
                        "adUserData": "GRANTED",
                        "adPersonalization": "GRANTED",
                    },
                },
            },
        }
    ]


# -------------------------------------------------------------- AppsFlyer


def test_appsflyer_s2s_post_golden():
    """reference appsflyer_s2s_uploader_async.py:44-80 — url, auth header,
    af_events_api flag, 200 accepted."""
    http = HttpRecorder(status=200)
    t = AppsFlyerS2STransport(
        _execution(DestinationType.APPSFLYER_S2S_EVENTS, ["com.app.id"]),
        dev_key="devkey",
        http_post=http,
    )
    row = {
        "appsflyer_id": "af1",
        "event_eventName": "purchase",
        "event_eventValue": '{"af_revenue": 1}',
        "customer_user_id": "u1",
        "device_ids_advertising_id": "adid-1",
    }
    assert t.send([row], {}) == [row]
    post = http.posts[0]
    assert post["url"] == "https://api2.appsflyer.com/inappevent/com.app.id"
    assert post["headers"] == {
        "authentication": "devkey",
        "Content-Type": "application/json",
    }
    body = json.loads(post["data"])
    assert body["appsflyer_id"] == "af1"
    assert body["eventName"] == "purchase"
    assert body["af_events_api"] == "true"
    assert body["customer_user_id"] == "u1"
    assert body["device_ids"] == {"advertising_id": "adid-1"}

    t_fail = AppsFlyerS2STransport(
        _execution(DestinationType.APPSFLYER_S2S_EVENTS, ["com.app.id"]),
        dev_key="devkey",
        http_post=HttpRecorder(status=403),
    )
    assert t_fail.send([row], {}) == []


# ----------------------------------------- executor integration (pickling)


def test_ads_transport_through_sink_executor(spark):
    """The adapter survives pickling into executor partitions and the
    success subset flows back relationally (J3 semantics end-to-end)."""
    from megalista_spark.sinks.executor import SinkExecutor

    factory = PicklableFactory()
    t = GoogleAdsConversionsTransport(
        _execution(DestinationType.ADS_OFFLINE_CONVERSION, ["user_list"]), factory
    )
    df = spark.createDataFrame(
        [
            ("2020-04-09T14:13:55.0005", "123", "456"),
            ("2020-04-09T13:13:55.0005", "234", "567"),
            ("2020-04-09T12:13:55.0005", "345", "678"),
        ],
        ["time", "amount", "gclid"],
    )
    result = SinkExecutor(t, batch_size=2).run(df)
    ok = {r["gclid"] for r in result.success.collect()}
    assert ok == {"456", "567", "678"} - {"567"}  # PicklableFactory drops 567
    assert result.errors.count() == 0


class PicklableFactory:
    """Module-level fake factory safe to pickle into executors: accepts
    every gclid except '567'."""

    def get(self, service_name, login_customer_id):
        if service_name == "GoogleAdsService":
            return FakeSearchStreamService("rn")
        return _PicklableOcService()


class _PicklableOcService:
    def upload_click_conversions(self, request):
        results = [
            SimpleNamespace(gclid=c["gclid"])
            for c in request["conversions"]
            if c["gclid"] != "567"
        ]
        return SimpleNamespace(results=results, partial_failure_error=None)


class FakeAnalyticsUserListService(FakeAnalyticsService):
    """Extends the analytics fake with the remarketingAudience chain."""

    def __init__(self, existing_audiences=()):
        super().__init__()
        self.audiences = [{"name": n, "id": str(i)} for i, n in enumerate(existing_audiences)]
        self.audience_lists = []
        self.audience_inserts = []

    def remarketingAudience(self):
        return _AudienceChain(self)


class _AudienceChain:
    def __init__(self, svc):
        self.svc = svc

    def list(self, **kw):
        self.svc.audience_lists.append(kw)
        return _Exec({"items": list(self.svc.audiences)})

    def insert(self, **kw):
        self.svc.audience_inserts.append(kw)
        return _Exec({"id": "new-id"})


def _ga_userlist_execution():
    account = AccountConfig("123-456", True, "54321", "", "")
    return Execution(
        account,
        SOURCE,
        Destination(
            "d",
            DestinationType.GA_USER_LIST_UPLOAD,
            ("UA-prop", "view9", "my import", "buyers list", "dim1", "dim2"),
        ),
    )


def test_ga_user_list_creates_audience_and_uploads():
    """reference google_analytics_user_list_uploader.py:46-93 (SIMPLE
    audience body, MCC_LINKS for MCC accounts) + :153-165 (dim-pair CSV
    header, 'buyer' default value)."""
    from megalista_spark.sinks.adapters import GAUserListTransport

    svc = FakeAnalyticsUserListService()
    t = GAUserListTransport(_ga_userlist_execution(), service_builder=lambda c: svc)
    t.before_run({})
    assert svc.audience_inserts == [
        {
            "accountId": "54321",
            "webPropertyId": "UA-prop",
            "body": {
                "name": "buyers list",
                "linkedViews": ["view9"],
                "linkedAdAccounts": [
                    {"type": "MCC_LINKS", "linkedAccountId": "123456"}
                ],
                "audienceType": "SIMPLE",
                "audienceDefinition": {
                    "includeConditions": {
                        "kind": "analytics#includeConditions",
                        "isSmartList": False,
                        "segment": "users::condition::dim2==buyer",
                        "membershipDurationDays": 365,
                    }
                },
            },
        }
    ]
    rows = [{"user_id": "u1"}, {"user_id": "u2"}]
    assert t.send(rows, {}) == rows
    up = svc.upload_calls[0]
    assert up["customDataSourceId"] == "ds1"
    assert up["media_body"] == b"dim1,dim2\nu1,buyer\nu2,buyer"


def test_ga_user_list_existing_audience_not_recreated():
    from megalista_spark.sinks.adapters import GAUserListTransport

    svc = FakeAnalyticsUserListService(existing_audiences=["buyers list"])
    t = GAUserListTransport(_ga_userlist_execution(), service_builder=lambda c: svc)
    t.before_run({})
    assert svc.audience_inserts == []


def test_ga_user_list_metadata_validation():
    from megalista_spark.sinks.adapters import GAUserListTransport

    account = AccountConfig("1", False, "2", "", "")
    with pytest.raises(ValueError, match="Missing destination information"):
        GAUserListTransport(
            Execution(
                account,
                SOURCE,
                Destination("d", DestinationType.GA_USER_LIST_UPLOAD, ("a", "b")),
            )
        )

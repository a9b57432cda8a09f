"""In-process fake destination APIs and the benchmark's recording Transport.

The fakes plug into the injection seams the adapters already have
(``sinks/adapters.py``, ``sinks/customer_match.py``): an ``AdsServiceFactory``
for GoogleAdsConversionsTransport, an ``AdsApiClient`` for
CustomerMatchTransport, ``http_post`` for GA4 MP, GA MP and AppsFlyer, and
``service_builder`` for CM360, GA Data Import / user lists and DV360. No
sockets: every call returns at once and accepts everything.

Every payload item a fake receives goes into a ``Recorder``: a count and an
order-independent digest (the sum of SHA-256 over each item's canonical
JSON, modulo 2**256), so a double send or a missing send changes it.
``RecordingTransport`` wraps the real adapter, times ``Transport.send`` and,
when each upload task ends, writes one JSON file of counters; the benchmark
process sums the files (``read_stats``).
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
import time
import uuid
from types import SimpleNamespace
from typing import Any, Callable
from urllib.parse import parse_qsl

from megalista_spark.models.execution import DestinationType as D
from megalista_spark.models.execution import Execution
from megalista_spark.sinks.adapters import (
    AppsFlyerS2STransport,
    CampaignManagerConversionsTransport,
    DV360CustomerMatchTransport,
    GA4MeasurementProtocolTransport,
    GADataImportTransport,
    GAMeasurementProtocolTransport,
    GAUserListTransport,
    GoogleAdsConversionsTransport,
)
from megalista_spark.sinks.customer_match import CustomerMatchTransport
from megalista_spark.sinks.transports import Transport

DIGEST_MOD = 2**256
CONVERSION_ACTION = "customers/1234567890/conversionActions/1"
# names the fake GA management API lists: the two data imports and the
# remarketing audience the destination metadata refers to
GA_NAMES = ("bench import", "bench list import", "bench buyers")

CUSTOMER_MATCH_KEYS = {
    D.ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD: ["hashed_email", "hashed_phone_number", "address_info"],
    D.ADS_CUSTOMER_MATCH_MOBILE_DEVICE_ID_UPLOAD: ["mobile_id"],
    D.ADS_CUSTOMER_MATCH_USER_ID_UPLOAD: ["third_party_user_id"],
}


def item_digest(item: Any) -> int:
    canon = json.dumps(item, sort_keys=True, separators=(",", ":"))
    return int.from_bytes(hashlib.sha256(canon.encode("utf-8")).digest(), "big")


class Recorder:
    """API calls and received payload items of one upload task. Pickles as a
    fresh recorder, so each task counts only its own calls; objects that
    share one recorder keep sharing it after unpickling."""

    def __init__(self) -> None:
        self.reset()

    def reset(self) -> None:
        self._lock = threading.Lock()
        self.calls = 0
        self.items = 0
        self.digest = 0

    def __reduce__(self):
        return (Recorder, ())

    def call(self, items: list[Any] = ()) -> None:
        d = sum(item_digest(it) for it in items)
        with self._lock:  # GA4 and AppsFlyer send from a thread pool
            self.calls += 1
            self.items += len(items)
            self.digest = (self.digest + d) % DIGEST_MOD


class FakeAdsServices:
    """``AdsServiceFactory``: GoogleAdsService (conversion-action lookup),
    ConversionUploadService and ConversionAdjustmentUploadService."""

    def __init__(self, recorder: Recorder):
        self.recorder = recorder

    def get(self, service_name: str, login_customer_id: str) -> "FakeAdsServices":
        return self

    def search_stream(self, customer_id: str, query: str) -> list:
        self.recorder.call()
        action = SimpleNamespace(resource_name=CONVERSION_ACTION)
        return [SimpleNamespace(results=[SimpleNamespace(conversion_action=action)])]

    def upload_click_conversions(self, request: dict) -> SimpleNamespace:
        convs = request["conversions"]
        self.recorder.call(convs)
        return SimpleNamespace(
            results=[SimpleNamespace(gclid=c["gclid"]) for c in convs],
            partial_failure_error=None,
        )

    def upload_conversion_adjustments(self, request: dict) -> SimpleNamespace:
        adjs = request["conversion_adjustments"]
        self.recorder.call(adjs)
        results = []
        for a in adjs:
            pair = a.get("gclid_date_time_pair")
            results.append(
                SimpleNamespace(
                    gclid_date_time_pair=SimpleNamespace(gclid=pair["gclid"]) if pair else None,
                    order_id=a.get("order_id"),
                )
            )
        return SimpleNamespace(results=results, partial_failure_error=None)


class FakeAdsApiClient:
    """``AdsApiClient`` for customer match: the list exists, jobs succeed."""

    def __init__(self, recorder: Recorder):
        self.recorder = recorder

    def get_user_list(self, customer_id: str, list_name: str) -> str:
        self.recorder.call()
        return f"customers/{customer_id}/userLists/{list_name}"

    def create_user_list(self, customer_id: str, list_definition: dict) -> str:
        self.recorder.call()
        return f"customers/{customer_id}/userLists/new"

    def create_offline_user_data_job(
        self, customer_id: str, list_resource_name: str, consents: dict
    ) -> str:
        self.recorder.call()
        return f"{list_resource_name}/jobs/{uuid.uuid4().hex}"

    def add_job_operations(self, job_resource_name: str, operations: list) -> list[int]:
        self.recorder.call(operations)
        return []

    def run_job(self, job_resource_name: str) -> None:
        self.recorder.call()


class FakeHttp:
    """``http_post``: one record per MP hit line (form-encoded) or per JSON
    body (GA4, AppsFlyer)."""

    def __init__(self, recorder: Recorder, status: int, form: bool = False):
        self.recorder = recorder
        self.status = status
        self.form = form

    def __call__(self, url: str, data: bytes, headers: dict | None = None) -> tuple[int, bytes]:
        text = data.decode("utf-8")
        if self.form:
            items = [dict(parse_qsl(line, keep_blank_values=True)) for line in text.split("\n")]
        else:
            items = [json.loads(text)]
        self.recorder.call(items)
        return self.status, b""


class _Request:
    def __init__(self, recorder: Recorder, value: Any, items: list = ()):
        self.recorder, self.value, self.items = recorder, value, items

    def execute(self) -> Any:
        self.recorder.call(self.items)
        return self.value


class FakeDiscoveryService:
    """``service_builder`` and the service it builds, for dfareporting
    (CM360), analytics v3 (GA Data Import, user lists) and displayvideo
    (DV360). CSV uploads record one item per data line."""

    def __init__(self, recorder: Recorder):
        self.recorder = recorder

    def __call__(self, credentials: Any) -> "FakeDiscoveryService":
        return self

    def _chain(self) -> "FakeDiscoveryService":
        return self

    conversions = management = customDataSources = uploads = _chain
    remarketingAudience = firstAndThirdPartyAudiences = _chain

    def batchinsert(self, profileId: str, body: dict) -> _Request:
        return _Request(self.recorder, {"hasFailures": False}, body["conversions"])

    def list(self, **kw: Any) -> _Request:
        if "advertiserId" in kw:  # DV360 audience lookup: not there yet
            return _Request(self.recorder, {})
        if "customDataSourceId" in kw:  # previous uploads: none to erase
            return _Request(self.recorder, {"items": []})
        items = [{"name": n, "id": f"id-{i}"} for i, n in enumerate(GA_NAMES)]
        return _Request(self.recorder, {"items": items})

    def uploadData(self, media_body: bytes, **kw: Any) -> _Request:
        return _Request(self.recorder, None, media_body.decode("utf-8").split("\n")[1:])

    def create(self, advertiserId: str, body: dict) -> _Request:
        members = body.get("contactInfoList", body.get("mobileDeviceIdList"))
        members = members.get("contactInfos", members.get("mobileDeviceIds"))
        return _Request(self.recorder, {"firstAndThirdPartyAudienceId": "aud-1"}, members)

    def editCustomerMatchMembers(self, firstAndThirdPartyAudienceId: str, body: dict) -> _Request:
        members = body.get("addedContactInfoList", body.get("addedMobileDeviceIdList"))
        members = members.get("contactInfos", members.get("mobileDeviceIds"))
        return _Request(self.recorder, {}, members)


def adapter(execution: Execution, recorder: Recorder) -> Transport:
    """The real adapter for the execution's destination, on fake seams."""
    dtype = execution.destination.destination_type
    if dtype in CUSTOMER_MATCH_KEYS:
        return CustomerMatchTransport(
            execution,
            CUSTOMER_MATCH_KEYS[dtype],
            {"name": execution.destination.metadata[0]},
            FakeAdsApiClient(recorder),
        )
    kinds = {
        D.ADS_OFFLINE_CONVERSION: "click",
        D.ADS_OFFLINE_CONVERSION_ADJUSTMENT_GCLID: "adjustment_gclid",
        D.ADS_OFFLINE_CONVERSION_ADJUSTMENT_ORDER_ID: "adjustment_order_id",
    }
    if dtype in kinds:
        return GoogleAdsConversionsTransport(execution, FakeAdsServices(recorder), kinds[dtype])
    service = FakeDiscoveryService(recorder)
    builders: dict[D, Callable[[], Transport]] = {
        D.CM_OFFLINE_CONVERSION: lambda: CampaignManagerConversionsTransport(
            execution, service_builder=service
        ),
        D.GA_DATA_IMPORT: lambda: GADataImportTransport(execution, service_builder=service),
        D.GA_USER_LIST_UPLOAD: lambda: GAUserListTransport(execution, service_builder=service),
        D.DV_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD: lambda: DV360CustomerMatchTransport(
            execution, service_builder=service, variant="contact_info"
        ),
        D.DV_CUSTOMER_MATCH_DEVICE_ID_UPLOAD: lambda: DV360CustomerMatchTransport(
            execution, service_builder=service, variant="mobile_device_id"
        ),
        D.GA_MEASUREMENT_PROTOCOL: lambda: GAMeasurementProtocolTransport(
            execution, http_post=FakeHttp(recorder, 200, form=True)
        ),
        D.GA_4_MEASUREMENT_PROTOCOL: lambda: GA4MeasurementProtocolTransport(
            execution, http_post=FakeHttp(recorder, 204)
        ),
        D.APPSFLYER_S2S_EVENTS: lambda: AppsFlyerS2STransport(
            execution, dev_key="bench-dev-key", http_post=FakeHttp(recorder, 200)
        ),
    }
    return builders[dtype]()


class RecordingTransport(Transport):
    """Times and counts the wrapped adapter; one stats file per upload task
    (and one for the driver-side ``before_run``)."""

    def __init__(self, inner: Transport, recorder: Recorder, stats_dir: str, branch: str):
        self.inner = inner
        self.recorder = recorder
        self.stats_dir = stats_dir
        self.branch = branch
        self._stats: dict[str, float] = {}

    def _reset(self) -> None:
        self.recorder.reset()
        self._stats = {"chunks": 0, "rows": 0, "accepted": 0, "retries": 0, "send_s": 0.0}

    def before_run(self, context: dict[str, Any]) -> None:
        self._reset()
        self.inner.before_run(context)
        self._write("driver")

    def open(self, context: dict[str, Any]) -> None:
        self._reset()
        self.inner.open(context)

    def send(self, payload: list[dict], context: dict[str, Any]) -> list[dict]:
        t0 = time.perf_counter()
        try:
            accepted = self.inner.send(payload, context)
        except Exception:
            self._stats["retries"] += 1  # the executor retries the chunk
            raise
        finally:
            self._stats["send_s"] += time.perf_counter() - t0
        self._stats["chunks"] += 1
        self._stats["rows"] += len(payload)
        self._stats["accepted"] += len(accepted)
        return accepted

    def close(self, context: dict[str, Any]) -> None:
        self.inner.close(context)
        self._write(str(context.get("partition_id")))

    def _write(self, task: str) -> None:
        rec = {
            "branch": self.branch,
            "task": task,
            "calls": self.recorder.calls,
            "items": self.recorder.items,
            "digest": self.recorder.digest,
            **self._stats,
        }
        name = f"{self.branch}.{task}.{os.getpid()}.{uuid.uuid4().hex}.json"
        with open(os.path.join(self.stats_dir, name), "w") as f:
            json.dump(rec, f)


def transport_factory(stats_dir: str) -> Callable[[Execution], Transport]:
    """``Pipeline`` transport factory writing task stats under ``stats_dir``."""
    os.makedirs(stats_dir, exist_ok=True)

    def make(execution: Execution) -> Transport:
        recorder = Recorder()
        return RecordingTransport(
            adapter(execution, recorder), recorder, stats_dir, execution.destination.name
        )

    return make


def read_stats(stats_dir: str) -> dict[str, dict[str, float]]:
    """Per-branch sums of the task stats files; ``upload_tasks`` counts the
    tasks that sent at least one row."""
    out: dict[str, dict[str, float]] = {}
    for name in sorted(os.listdir(stats_dir)):
        with open(os.path.join(stats_dir, name)) as f:
            rec = json.load(f)
        agg = out.setdefault(
            rec["branch"],
            {"calls": 0, "items": 0, "digest": 0, "chunks": 0, "rows": 0,
             "accepted": 0, "retries": 0, "send_s": 0.0, "upload_tasks": 0},
        )
        for k in ("calls", "items", "chunks", "rows", "accepted", "retries", "send_s"):
            agg[k] += rec.get(k, 0)
        agg["digest"] = (agg["digest"] + rec["digest"]) % DIGEST_MOD
        agg["upload_tasks"] += 1 if rec.get("rows", 0) > 0 else 0
    return out

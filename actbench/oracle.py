"""Independent oracle: what a correct run must upload and record.

Computed with pyarrow and hashlib from the generated files alone, never with
the code under test. Hashing follows the rules documented in
``functions/hashing.py`` (the reference mappers): sha256 of the
stripped, lower-cased value; emails lower-cased first and, when the domain
is exactly gmail.com or googlemail.com, stripped of dots in the local part;
an empty string counts as absent; the address quadruple only when all four
parts are present, with country and zip passed through raw.
"""

from __future__ import annotations

import calendar
import datetime as dt
import hashlib
import json
import os
import re
from collections import Counter
from zoneinfo import ZoneInfo

import pyarrow.parquet as pq

from actbench.fakes import CONVERSION_ACTION, DIGEST_MOD, item_digest
from actbench.gen import ACCOUNT, DEST_METADATA, RETENTION_DAYS

ADS_TZ = ZoneInfo("America/Sao_Paulo")  # the reference uploaders' fixed zone
GA4_RESERVED = {"uuid", "app_instance_id", "client_id", "user_id", "timestamp_micros", "name"}

TXN_KEYS = {
    "ADS_OFFLINE_CONVERSION": ("gclid", "time"),
    "ADS_OFFLINE_CONVERSION_ADJUSTMENT_GCLID": ("gclid", "time"),
    "ADS_OFFLINE_CONVERSION_ADJUSTMENT_ORDER_ID": ("order_id", "time"),
    "CM_OFFLINE_CONVERSION": ("uuid",),
    "GA_MEASUREMENT_PROTOCOL": ("uuid",),
    "GA_4_MEASUREMENT_PROTOCOL": ("uuid",),
    "APPSFLYER_S2S_EVENTS": ("uuid",),
}


def _present(v: str | None) -> bool:
    return v is not None and v != ""


def _sha(v: str) -> str:
    return hashlib.sha256(v.strip().lower().encode("utf-8")).hexdigest()


def _email_sha(v: str) -> str:
    low = v.lower()
    if "@" in low:
        local, rest = low.split("@", 1)
        if re.fullmatch(r"(gmail|googlemail)\.com", rest.split("@")[0]):
            local = local.replace(".", "")
        v = f"{local}@{rest}"
    return _sha(v)


def _ads_time(v: str) -> str:
    return dt.datetime.strptime(v, "%Y-%m-%dT%H:%M:%S").replace(tzinfo=ADS_TZ).isoformat(" ")


def _address(r: dict, country: str, zipc: str) -> tuple | None:
    parts = (r["mailing_address_first_name"], r["mailing_address_last_name"], r[country], r[zipc])
    return parts if all(_present(p) for p in parts) else None


def _op(key: str, value) -> dict:
    return {"create": {"user_identifiers": [{key: value}]}}


def _contact_ops(r: dict) -> list:
    ops = []
    if _present(r["email"]):
        ops.append(_op("hashed_email", _email_sha(r["email"])))
    if _present(r["phone"]):
        ops.append(_op("hashed_phone_number", _sha(r["phone"])))
    addr = _address(r, "mailing_address_country", "mailing_address_zip")
    if addr:
        ops.append(_op("address_info", {
            "hashed_first_name": _sha(addr[0]), "hashed_last_name": _sha(addr[1]),
            "country_code": addr[2], "postal_code": addr[3],
        }))
    return ops


def _dv_contact(r: dict) -> list:
    c = {}
    if _present(r["email"]):
        c["hashedEmails"] = [_email_sha(r["email"])]
    if _present(r["phone"]):
        c["hashedPhoneNumbers"] = [_sha(r["phone"])]
    addr = _address(r, "mailing_address_country_name", "mailing_address_zip_name")
    if addr:
        c.update(hashedFirstName=_sha(addr[0]), hashedLastName=_sha(addr[1]),
                 countryCode=addr[2], zipCodes=[addr[3]])
    return [c] if c else []


def _adjustment(r: dict) -> dict:
    return {
        "conversion_action": CONVERSION_ACTION,
        "adjustment_type": "RESTATEMENT",
        "adjustment_date_time": _ads_time(r["time"]),
        "restatement_value": {"adjusted_value": float(r["amount"])},
    }


def _cm_conversion(r: dict) -> dict:
    micros = calendar.timegm(dt.datetime.strptime(r["timestamp"], "%Y-%m-%d %H:%M:%S").timetuple()) * 1_000_000
    return {
        "floodlightActivityId": DEST_METADATA["CM_OFFLINE_CONVERSION"][0],
        "floodlightConfigurationId": DEST_METADATA["CM_OFFLINE_CONVERSION"][1],
        "quantity": int(r["quantity"]), "value": int(r["value"]), "gclid": r["gclid"],
        "timestampMicros": micros, "ordinal": str(micros),
    }


def _ga_hit(r: dict) -> dict:
    hit = {"v": "1", "tid": DEST_METADATA["GA_MEASUREMENT_PROTOCOL"][0], "t": "event", "ni": "1",
           "cid": r["client_id"], "uid": r["user_id"], "ec": r["event_category"],
           "ea": r["event_action"]}
    hit.update({k: v for k, v in r.items() if re.fullmatch(r"c[dm]\d+", k) and v is not None})
    return hit


def _ga4_event(r: dict) -> dict:
    params = {k: v for k, v in r.items() if k not in GA4_RESERVED and _present(v)}
    return {"nonPersonalizedAds": False, "events": [{"name": r["name"], "params": params}],
            "client_id": r["client_id"], "user_id": r["user_id"]}


def _appsflyer(r: dict) -> dict:
    body = {"appsflyer_id": r["appsflyer_id"], "eventName": r["event_eventName"],
            "eventValue": r["event_eventValue"] or "", "app_id": ACCOUNT["AppId"],
            "af_events_api": "true"}
    if r["customer_user_id"]:
        body["customer_user_id"] = r["customer_user_id"]
    return body


# destination type -> source row -> payload items the fake must receive;
# a row with no items is dropped before upload
PAYLOADS = {
    "ADS_OFFLINE_CONVERSION": lambda r: [{
        "conversion_action": CONVERSION_ACTION, "gclid": r["gclid"],
        "conversion_date_time": _ads_time(r["time"]), "conversion_value": float(r["amount"]),
    }],
    "ADS_OFFLINE_CONVERSION_ADJUSTMENT_GCLID": lambda r: [{
        **_adjustment(r),
        "gclid_date_time_pair": {"gclid": r["gclid"], "conversion_date_time": _ads_time(r["conversion_time"])},
    }],
    "ADS_OFFLINE_CONVERSION_ADJUSTMENT_ORDER_ID": lambda r: [{**_adjustment(r), "order_id": r["order_id"]}],
    "ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD": _contact_ops,
    "ADS_CUSTOMER_MATCH_USER_ID_UPLOAD": lambda r: (
        [_op("third_party_user_id", _sha(r["user_id"]))] if _present(r["user_id"]) else []),
    "ADS_CUSTOMER_MATCH_MOBILE_DEVICE_ID_UPLOAD": lambda r: (
        [_op("mobile_id", r["mobile_device_id"])] if _present(r["mobile_device_id"]) else []),
    "DV_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD": _dv_contact,
    "DV_CUSTOMER_MATCH_DEVICE_ID_UPLOAD": lambda r: (
        [r["mobile_device_id"]] if _present(r["mobile_device_id"]) else []),
    "CM_OFFLINE_CONVERSION": lambda r: [_cm_conversion(r)],
    "GA_MEASUREMENT_PROTOCOL": lambda r: [_ga_hit(r)],
    "GA_4_MEASUREMENT_PROTOCOL": lambda r: [_ga4_event(r)],
    "APPSFLYER_S2S_EVENTS": lambda r: [_appsflyer(r)],
    "GA_DATA_IMPORT": lambda r: [f"{r['cd1']},{r['cd2']}"],
    "GA_USER_LIST_UPLOAD": lambda r: [f"{r['user_id']},buyer"],
}


def _parquet_files(path: str) -> list[tuple[str, str]]:
    """(partition dir name, file) for every data file under a table dir."""
    out = []
    for root, _, files in os.walk(path):
        for name in sorted(files):
            if name.endswith(".parquet") and not name.startswith((".", "_")):
                out.append((os.path.basename(root), os.path.join(root, name)))
    return sorted(out)


def control_keys(path: str, keys: tuple[str, ...]) -> Counter:
    """Multiset of key tuples in a control table directory (every file)."""
    found: Counter = Counter()
    for _, f in _parquet_files(path):
        t = pq.read_table(f, columns=list(keys)).to_pydict()
        found.update(zip(*(t[k] for k in keys)))
    return found


def _retained_keys(path: str, keys: tuple[str, ...], today: dt.date) -> set:
    """Keys of a seeded control table inside the retention window."""
    cutoff = today - dt.timedelta(days=RETENTION_DAYS)
    start = dt.datetime(cutoff.year, cutoff.month, cutoff.day, tzinfo=dt.timezone.utc)
    kept = set()
    for part, f in _parquet_files(path):
        if dt.date.fromisoformat(part.removeprefix("dt=")) < cutoff:
            continue
        t = pq.read_table(f, columns=["timestamp", *keys]).to_pydict()
        for i, ts in enumerate(t["timestamp"]):
            if ts >= start:
                kept.add(tuple(t[k][i] for k in keys))
    return kept


class ActivationOracle:
    """Expected uploads of one activation workload input, per branch:
    ``rows`` accepted, payload ``items`` and their ``digest``; and the
    control-table key multiset each source must hold after a run."""

    def __init__(self, config_path: str, pristine_dir: str | None, today: dt.date):
        with open(config_path) as f:
            config = json.load(f)
        paths = {s["Name"]: s["Path"] for s in config["Sources"]}
        dtypes = {d["Name"]: d["Type"] for d in config["Destinations"]}
        rows = {name: pq.read_table(p).to_pylist() for name, p in paths.items()}
        self.branches: dict[str, dict[str, int]] = {}
        self.control: dict[str, tuple[tuple[str, ...], Counter]] = {}
        for conn in config["Connections"]:
            src, dest = conn["Source"], conn["Destination"]
            dtype = dtypes[dest]
            keys = TXN_KEYS.get(dtype)
            seeded: Counter = Counter()
            retained: set = set()
            if keys and pristine_dir:
                table = os.path.join(pristine_dir, f"{src}_uploaded")
                seeded = control_keys(table, keys)
                retained = _retained_keys(table, keys, today)
            n, items, digest, uploaded = 0, 0, 0, Counter()
            for r in rows[src]:
                key = tuple(r[k] for k in keys) if keys else None
                if key in retained:
                    continue
                payload = PAYLOADS[dtype](r)
                if not payload:
                    continue
                n += 1
                items += len(payload)
                digest = (digest + sum(item_digest(p) for p in payload)) % DIGEST_MOD
                if keys:
                    uploaded[key] += 1
            self.branches[dest] = {"rows": n, "items": items, "digest": digest}
            if keys:
                self.control[src] = (keys, seeded + uploaded)

    def check(self, summary: list[dict], stats: dict[str, dict], control_dir) -> list[str]:
        """Problems with one run: ``summary`` is RunResult.summary(),
        ``stats`` the summed fake-API stats, ``control_dir(source)`` the
        control table path of a source."""
        problems = []
        by_dest = {s["destination"]: s for s in summary}
        for dest, exp in self.branches.items():
            got = by_dest.get(dest)
            if got is None or not got["ok"]:
                problems.append(f"{dest}: branch failed")
            elif got["rows_uploaded"] != exp["rows"]:
                problems.append(f"{dest}: rows_uploaded {got['rows_uploaded']} != {exp['rows']}")
            st = stats.get(dest, {"items": 0, "digest": 0})
            if st["items"] != exp["items"] or st["digest"] != exp["digest"]:
                problems.append(f"{dest}: payload digest mismatch ({st['items']} items, expected {exp['items']})")
        for src, (keys, expected) in self.control.items():
            if control_keys(control_dir(src), keys) != expected:
                problems.append(f"{src}: control-table keys differ from the expected keys")
        return problems


class CorpusOracle:
    """Exact duplicates come from md5 of the texts; near duplicates from the
    planted truth. Every exact duplicate (non-minimum id of an identical
    text) must be gone, every original that is not one must survive, and
    near-duplicate recall is a count."""

    def __init__(self, documents_path: str, planted_path: str):
        t = pq.read_table(documents_path).to_pydict()
        with open(planted_path) as f:
            truth = json.load(f)
        groups: dict[str, list[int]] = {}
        for doc_id, text in zip(t["doc_id"], t["text"]):
            groups.setdefault(hashlib.md5(text.encode("utf-8")).hexdigest(), []).append(doc_id)
        self.exact = {i for ids in groups.values() for i in ids if i != min(ids)}
        self.documents = len(t["doc_id"])
        self.must_survive = {i for i in range(truth["originals"]) if i not in self.exact}
        self.family = {int(k): v for k, v in truth["near"].items() if int(k) not in self.exact}

    def check(self, survivors: set[int]) -> tuple[list[str], int]:
        """(problems, planted near duplicates removed)."""
        problems = []
        kept_exact = len(self.exact & survivors)
        if kept_exact:
            problems.append(f"{kept_exact} exact duplicates survived")
        lost = len(self.must_survive - survivors)
        if lost:
            problems.append(f"{lost} unplanted documents were removed")
        return problems, sum(1 for i in self.family if i not in survivors)

    def failed(self, survivors: set[int]) -> int:
        return len(self.exact & survivors) + len(self.must_survive - survivors)

    def true_pair(self, a: int, b: int) -> bool:
        return self.family.get(a, a) == self.family.get(b, b)

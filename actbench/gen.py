"""Seeded inputs for the activation-pipeline benchmark.

One process generates everything a workload reads from one integer seed:
source tables (parquet, all-string columns, the shape a daily export lands
in), control tables pre-seeded relative to a given day, the execution
config JSON, and for the corpus the planted-duplicate truth. The same seed,
day and output directory give byte-identical files.

Whitespace padding uses ASCII spaces only: the hashing layer trims with
Spark's ``trim``, which strips spaces but not tabs, while the reference rule
it documents is Python's ``strip()``. Tabs would make the two disagree; see
README.md.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import string

import pyarrow as pa
import pyarrow.parquet as pq

RETENTION_DAYS = 15  # the control-table read window
ROW_GROUP_ROWS = 4096
# Event times are fixed so that sources do not depend on the day they are
# generated; only control-table partitions are dated relative to today.
TIME_BASE = dt.datetime(2024, 3, 1)

# Full-size parameters, then the tiny ones the benchmark's own tests use.
SIZES = {
    "activation_fresh": ({"rows": 1500}, {"rows": 200}),
    "activation_incremental": (
        {"rows": 50_000, "new_frac": 0.02},
        {"rows": 1000, "new_frac": 0.05},
    ),
    "config_fanout": ({"rows": 500, "af_rows": 100}, {"rows": 40, "af_rows": 10}),
    "corpus_near_dedup": (
        {"bases": 3500, "singles": 2000, "near": 1500, "exact": 1000},
        {"bases": 40, "singles": 30, "near": 20, "exact": 15},
    ),
}
WORKLOADS = tuple(SIZES)

ACCOUNT = {
    "GoogleAdsAccountId": "123-456-7890",
    "GoogleAdsMCC": False,
    "AppId": "com.example.bench",
    "GoogleAnalyticsAccountId": "9876",
    "CampaignManagerProfileId": "5566",
}

DEST_METADATA = {
    "ADS_OFFLINE_CONVERSION": ["bench_purchase", ""],
    "ADS_OFFLINE_CONVERSION_ADJUSTMENT_GCLID": ["bench_purchase", ""],
    "ADS_OFFLINE_CONVERSION_ADJUSTMENT_ORDER_ID": ["bench_purchase", ""],
    "ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD": ["bench_contacts", "ADD"],
    "ADS_CUSTOMER_MATCH_MOBILE_DEVICE_ID_UPLOAD": ["bench_devices", "ADD"],
    "ADS_CUSTOMER_MATCH_USER_ID_UPLOAD": ["bench_users", "ADD"],
    "CM_OFFLINE_CONVERSION": ["flood_activity", "flood_config"],
    "GA_MEASUREMENT_PROTOCOL": ["UA-1234-1"],
    "GA_4_MEASUREMENT_PROTOCOL": ["secret", "true", "false", "false", "", "G-BENCH"],
    "APPSFLYER_S2S_EVENTS": ["com.example.bench"],
    "GA_DATA_IMPORT": ["UA-1234-1", "bench import"],
    "GA_USER_LIST_UPLOAD": [
        "UA-1234-1", "555", "bench list import", "bench buyers", "cd1", "cd2",
    ],
    "DV_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD": ["adv-1", "bench dv contacts"],
    "DV_CUSTOMER_MATCH_DEVICE_ID_UPLOAD": ["adv-1", "bench dv devices"],
}

_FIRST = ["Ana", "Bruno", "Carla", "Diego", "Elisa", "Fabio", "Gina", "Hugo",
          "Iris", "Joao", "Karen", "Luis"]
_LAST = ["Silva", "Souza", "Costa", "Lima", "Gomes", "Ribeiro", "Alves",
         "Pereira", "Rocha", "Dias"]
_DOMAINS = ["gmail.com", "googlemail.com", "Gmail.com", "example.com", "mail.com"]
_COUNTRIES = ["BR", "US", "GB", "DE"]
_ALNUM = string.ascii_letters + string.digits

ADS_COLUMNS = [
    "uuid", "gclid", "time", "amount", "conversion_time", "order_id", "email",
    "phone", "mailing_address_first_name", "mailing_address_last_name",
    "mailing_address_country", "mailing_address_zip",
    "mailing_address_country_name", "mailing_address_zip_name", "user_id",
    "mobile_device_id",
]
FRESH_COLUMNS = [
    "gclid", "time", "amount", "uuid", "phone", "user_id", "email",
    "mailing_address_first_name", "mailing_address_last_name",
    "mailing_address_country", "mailing_address_zip",
]
GA_COLUMNS = ["uuid", "client_id", "user_id", "name", "event_category",
              "event_action", "cd1", "cd2"]
EVENT_COLUMNS = GA_COLUMNS[:6]
AF_COLUMNS = ["uuid", "appsflyer_id", "event_eventName", "event_eventValue",
              "customer_user_id"]
CM_COLUMNS = ["uuid", "gclid", "value", "quantity", "timestamp"]

# config_fanout: (kind, destination types), one connection per destination
# type whose adapter has an injection seam. A source carries at most one
# transactional destination, because the control table is per source.
FANOUT = [
    ("ads", ["ADS_OFFLINE_CONVERSION", "ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD",
             "ADS_CUSTOMER_MATCH_MOBILE_DEVICE_ID_UPLOAD", "ADS_CUSTOMER_MATCH_USER_ID_UPLOAD",
             "DV_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD", "DV_CUSTOMER_MATCH_DEVICE_ID_UPLOAD"]),
    ("ads", ["ADS_OFFLINE_CONVERSION_ADJUSTMENT_GCLID"]),
    ("ads", ["ADS_OFFLINE_CONVERSION_ADJUSTMENT_ORDER_ID"]),
    ("ga", ["GA_4_MEASUREMENT_PROTOCOL", "GA_DATA_IMPORT", "GA_USER_LIST_UPLOAD"]),
    ("ga", ["GA_MEASUREMENT_PROTOCOL"]),
    ("af", ["APPSFLYER_S2S_EVENTS"]),
    ("cm", ["CM_OFFLINE_CONVERSION"]),
]

# ---------------------------------------------------------------- values


def _maybe(rng: random.Random, value: str, p_empty: float) -> str:
    return "" if rng.random() < p_empty else value


def _pad(rng: random.Random, s: str) -> str:
    r = rng.random()
    if r < 0.1:
        return " " + s
    if r < 0.2:
        return s + "  "
    return s


def _mixcase(rng: random.Random, s: str) -> str:
    return "".join(c.upper() if rng.random() < 0.3 else c for c in s)


def _email(rng: random.Random, i: int) -> str:
    first, last = rng.choice(_FIRST), rng.choice(_LAST)
    local = f"{first}.{last}.{i}" if rng.random() < 0.5 else f"{first}{last}{i}"
    return _pad(rng, _mixcase(rng, f"{local}@{rng.choice(_DOMAINS)}"))


def _uuid(rng: random.Random, i: int) -> str:
    return f"{rng.getrandbits(32):08x}-{i:08d}"


def _gclid(rng: random.Random, i: int) -> str:
    return "Cj0K" + "".join(rng.choices(_ALNUM, k=12)) + f"{i:08d}"


def _time(rng: random.Random, fmt: str = "%Y-%m-%dT%H:%M:%S") -> str:
    return (TIME_BASE + dt.timedelta(seconds=rng.randrange(30 * 86400))).strftime(fmt)


def _ads_row(rng: random.Random, i: int) -> dict:
    country = _maybe(rng, rng.choice(_COUNTRIES), 0.1)
    zipc = _maybe(rng, f"{rng.randrange(10**4, 10**5)}", 0.1)
    return {
        "uuid": _uuid(rng, i),
        "gclid": _gclid(rng, i),
        "time": _time(rng),
        "amount": f"{rng.randrange(100, 100000) / 100:.2f}",
        "conversion_time": _time(rng),
        "order_id": f"ord-{i:08d}",
        "email": _maybe(rng, _email(rng, i), 0.1),
        "phone": _maybe(rng, _pad(rng, f"+55 11 9{rng.randrange(10**7, 10**8)}"), 0.3),
        "mailing_address_first_name": _maybe(rng, _pad(rng, rng.choice(_FIRST)), 0.15),
        "mailing_address_last_name": _maybe(rng, rng.choice(_LAST), 0.15),
        "mailing_address_country": country,
        "mailing_address_zip": zipc,
        "mailing_address_country_name": country,
        "mailing_address_zip_name": zipc,
        "user_id": _maybe(rng, f"User-{i}", 0.1),
        "mobile_device_id": _maybe(rng, f"{rng.getrandbits(64):016x}", 0.2),
    }


def _ga_row(rng: random.Random, i: int) -> dict:
    return {
        "uuid": _uuid(rng, i),
        "client_id": f"{rng.randrange(10**9)}.{rng.randrange(10**9)}",
        "user_id": f"User-{i}",
        "name": rng.choice(["purchase", "sign_up", "add_to_cart"]),
        "event_category": rng.choice(["shop", "account"]),
        "event_action": rng.choice(["buy", "view", "click"]),
        "cd1": f"dim{rng.randrange(100)}",
        "cd2": _maybe(rng, f"seg{rng.randrange(10)}", 0.2),
    }


def _af_row(rng: random.Random, i: int) -> dict:
    return {
        "uuid": _uuid(rng, i),
        "appsflyer_id": f"{rng.getrandbits(48):012x}-{i}",
        "event_eventName": rng.choice(["af_purchase", "af_login"]),
        "event_eventValue": _maybe(rng, json.dumps({"v": rng.randrange(100)}), 0.3),
        "customer_user_id": _maybe(rng, f"User-{i}", 0.3),
    }


def _cm_row(rng: random.Random, i: int) -> dict:
    # value/quantity are cast to int under ANSI mode: always valid digits
    return {
        "uuid": _uuid(rng, i),
        "gclid": _gclid(rng, i),
        "value": str(rng.randrange(1, 500)),
        "quantity": str(rng.randrange(1, 5)),
        "timestamp": _time(rng, "%Y-%m-%d %H:%M:%S"),
    }


_KINDS = {
    "ads": (_ads_row, ADS_COLUMNS),
    "ga": (_ga_row, GA_COLUMNS),
    "af": (_af_row, AF_COLUMNS),
    "cm": (_cm_row, CM_COLUMNS),
}


# ----------------------------------------------------------------- files


def _write_rows(path: str, rows: list[dict], columns: list[str]) -> None:
    table = pa.table({c: pa.array([r[c] for r in rows], pa.string()) for c in columns})
    pq.write_table(table, path, row_group_size=ROW_GROUP_ROWS, compression="snappy")


def _write_control(
    path: str,
    keys_by_age: dict[int, list[tuple[str, ...]]],
    key_names: tuple[str, ...],
    today: dt.date,
    rng: random.Random,
) -> None:
    """A control table as the pipeline writes it: ``dt=`` partitions of
    (timestamp, keys...), one partition per age in days before ``today``."""
    for age in sorted(keys_by_age):
        day = today - dt.timedelta(days=age)
        part = os.path.join(path, f"dt={day.isoformat()}")
        os.makedirs(part)
        start = dt.datetime(day.year, day.month, day.day, tzinfo=dt.timezone.utc)
        keys = keys_by_age[age]
        cols = {
            "timestamp": pa.array(
                [start + dt.timedelta(seconds=rng.randrange(86400)) for _ in keys],
                pa.timestamp("us", tz="UTC"),
            )
        }
        for j, name in enumerate(key_names):
            cols[name] = pa.array([k[j] for k in keys], pa.string())
        pq.write_table(pa.table(cols), os.path.join(part, "part-00000.parquet"))


def _seed_control(
    path: str,
    keys: list[tuple[str, ...]],
    key_names: tuple[str, ...],
    new_frac: float,
    old_key: callable,
    today: dt.date,
    rng: random.Random,
) -> None:
    """All but ``new_frac`` of ``keys`` spread over 14 daily partitions
    inside retention; two stale partitions outside it hold keys the source
    no longer has plus half of the new keys, which must be uploaded again."""
    order = list(range(len(keys)))
    rng.shuffle(order)
    n_new = round(len(keys) * new_frac)
    by_age: dict[int, list] = {age: [] for age in range(1, RETENTION_DAYS)}
    for j, idx in enumerate(order[n_new:]):
        by_age[1 + j % (RETENTION_DAYS - 1)].append(keys[idx])
    stale = [keys[idx] for idx in order[: n_new // 2]]
    stale += [old_key(j) for j in range(len(keys) // 20)]
    by_age[RETENTION_DAYS + 5] = stale[0::2]
    by_age[RETENTION_DAYS + 20] = stale[1::2]
    _write_control(path, by_age, key_names, today, rng)


def _config(sources: list[tuple[str, str]], connections: list[tuple[str, str, str]]) -> dict:
    return {
        **ACCOUNT,
        "Sources": [
            {"Name": n, "Type": "FILE", "FileType": "PARQUET", "Path": p}
            for n, p in sources
        ],
        "Destinations": [
            {"Name": d, "Type": t, "Metadata": DEST_METADATA[t]} for _, d, t in connections
        ],
        "Connections": [
            {"Enabled": True, "Source": s, "Destination": d} for s, d, _ in connections
        ],
    }


# ------------------------------------------------------------- workloads


def source_path(outdir: str, name: str) -> str:
    return os.path.join(outdir, "sources", f"{name}.parquet")


def control_path(outdir: str, name: str) -> str:
    """Where FileDataSource keeps the control table of source ``name``."""
    return os.path.join(outdir, "sources", f"{name}_uploaded")


def pristine_control_path(outdir: str, name: str) -> str:
    return os.path.join(outdir, "pristine", f"{name}_uploaded")


def _gen_fresh(outdir: str, size: dict, rng: random.Random, today: dt.date) -> dict:
    rows = [_ads_row(rng, i) for i in range(size["rows"])]
    _write_rows(source_path(outdir, "conversions"), rows, FRESH_COLUMNS)
    return _config(
        [("conversions", source_path(outdir, "conversions"))],
        [
            ("conversions", "ads_oci", "ADS_OFFLINE_CONVERSION"),
            ("conversions", "cm_contacts", "ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD"),
            ("conversions", "cm_users", "ADS_CUSTOMER_MATCH_USER_ID_UPLOAD"),
        ],
    )


def _gen_incremental(outdir: str, size: dict, rng: random.Random, today: dt.date) -> dict:
    n, new_frac = size["rows"], size["new_frac"]
    conv = [_ads_row(rng, i) for i in range(n)]
    _write_rows(source_path(outdir, "conversions"), conv, ["gclid", "time", "amount"])
    _seed_control(
        pristine_control_path(outdir, "conversions"),
        [(r["gclid"], r["time"]) for r in conv],
        ("gclid", "time"),
        new_frac,
        lambda j: (f"Cj0Kexpired{j:08d}", _time(rng)),
        today,
        rng,
    )
    events = [_ga_row(rng, i) for i in range(n)]
    _write_rows(source_path(outdir, "app_events"), events, EVENT_COLUMNS)
    _seed_control(
        pristine_control_path(outdir, "app_events"),
        [(r["uuid"],) for r in events],
        ("uuid",),
        new_frac,
        lambda j: (f"expired-{j:08d}",),
        today,
        rng,
    )
    return _config(
        [
            ("conversions", source_path(outdir, "conversions")),
            ("app_events", source_path(outdir, "app_events")),
        ],
        [
            ("conversions", "ads_oci", "ADS_OFFLINE_CONVERSION"),
            ("app_events", "ga4_events", "GA_4_MEASUREMENT_PROTOCOL"),
        ],
    )


def _gen_fanout(outdir: str, size: dict, rng: random.Random, today: dt.date) -> dict:
    sources, connections = [], []
    for s, (kind, dtypes) in enumerate(FANOUT):
        name = f"s{s:02d}_{kind}"
        make, columns = _KINDS[kind]
        n = size["af_rows"] if kind == "af" else size["rows"]
        rows = [make(rng, s * 1_000_000 + i) for i in range(n)]
        _write_rows(source_path(outdir, name), rows, columns)
        sources.append((name, source_path(outdir, name)))
        for d, dtype in enumerate(dtypes):
            connections.append((name, f"{name}_d{d}", dtype))
    return _config(sources, connections)


def _gen_corpus(outdir: str, size: dict, rng: random.Random, today: dt.date) -> dict:
    """Originals (bases with near-duplicate variants, and singletons) take
    the low ids, so each duplicate group's canonical (minimum) id is an
    original; planted exact copies and near variants take the high ids."""
    vocab = [
        "".join(rng.choices(string.ascii_lowercase, k=rng.randint(3, 9)))
        for _ in range(20000)
    ]

    def doc() -> list[str]:
        return [rng.choice(vocab) for _ in range(rng.randint(40, 80))]

    originals = [doc() for _ in range(size["bases"] + size["singles"])]
    planted: list[tuple[str, int, list[str]]] = []
    for _ in range(size["near"]):
        base = rng.randrange(size["bases"])
        words = list(originals[base])
        for _ in range(2):
            words[rng.randrange(len(words))] = rng.choice(vocab)
        planted.append(("near", base, words))
    for _ in range(size["exact"]):
        src = rng.randrange(len(originals))
        planted.append(("exact", src, list(originals[src])))
    rng.shuffle(planted)
    ids = list(range(len(originals) + len(planted)))
    texts = [" ".join(w) for w in originals] + [" ".join(p[2]) for p in planted]
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())}),
        source_path(outdir, "documents"),
        row_group_size=ROW_GROUP_ROWS,
        compression="snappy",
    )
    truth = {
        "originals": len(originals),
        "near": {
            str(len(originals) + j): p[1] for j, p in enumerate(planted) if p[0] == "near"
        },
    }
    with open(os.path.join(outdir, "planted.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return _config([("documents", source_path(outdir, "documents"))], [])


_GENERATORS = {
    "activation_fresh": _gen_fresh,
    "activation_incremental": _gen_incremental,
    "config_fanout": _gen_fanout,
    "corpus_near_dedup": _gen_corpus,
}


def generate(workload: str, seed: int, outdir: str, today: dt.date, tiny: bool = False) -> str:
    """Write the inputs of ``workload`` for ``seed`` under ``outdir`` (which
    must not exist) and return the path of its execution config."""
    size = SIZES[workload][1 if tiny else 0]
    rng = random.Random(f"{workload}:{seed}")
    os.makedirs(os.path.join(outdir, "sources"))
    config = _GENERATORS[workload](outdir, size, rng, today)
    path = os.path.join(outdir, "config.json")
    with open(path, "w") as f:
        json.dump(config, f, indent=1, sort_keys=True)
    return path

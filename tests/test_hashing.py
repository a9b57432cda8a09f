"""Golden SHA-256 vectors from the reference's own tests
(mappers/ads_user_list_pii_hashing_mapper_test.py:108-144, reproduced in
/root/repo/FIXTURES.md §2.1) — byte-for-byte parity is the contract."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from megalista_spark.functions.hashing import (
    ads_pii_expressions,
    dv_pii_expressions,
    hash_email,
    hash_field,
    normalize_email,
)

GOLDEN = [
    # (input, expected sha256 of normalized value)
    ("john@doe.com", "d709f370e52b57b4eb75f04e2b3422c4d41a05148cad8f81776d94a048fb70af"),
    ("+551199999999", "a58d4dce9db87c65ebb6137f91edb9bbe7f274f5b0d07eea82f756ea70532b9c"),
    ("John ", "96d9632f363564cc3032521409cf22a852f2032eec099ed5967c0d000cec607a"),
    ("Doe", "799ef92a11af918e3fb741df42934f3b568ed2d93ac1df74f1b8d41a27932a6f"),
]

GOLDEN_EMAIL = [
    ("ca.us@gmail.com", "93d8aed730ac1b81df54d22efa758fc707f9f2763b59769d1f36c9ce9ff160b0"),
    ("us.ca@doe.com", "5de5320a299a39f8c370f6940b481ce30a46ac835d11632d99220ab0a0993dbf"),
    ("john@doe.com", "d709f370e52b57b4eb75f04e2b3422c4d41a05148cad8f81776d94a048fb70af"),
]


def test_hash_field_golden(spark):
    df = spark.createDataFrame([(v,) for v, _ in GOLDEN], ["x"])
    got = [r[0] for r in df.select(hash_field(F.col("x"))).collect()]
    assert got == [h for _, h in GOLDEN]


def test_hash_field_strips_like_python(spark):
    # the reference strips with str.strip(): tabs, newlines and NBSP too,
    # not only the ASCII space Spark's trim removes
    cases = ["\tJohn ", "John\n", "\u00a0John\u00a0", " \r\n\tJohn\u3000", "Jo hn"]
    df = spark.createDataFrame([(v,) for v in cases], ["x"])
    got = [r[0] for r in df.select(hash_field(F.col("x"))).collect()]
    assert got == [_ref_hash(v) for v in cases]
    assert got[0] == got[1] == got[2] == got[3]


def test_hash_field_lowers_like_python_through_icu(spark):
    # Python and ICU lower U+2C2F to U+2C5F; the JDK 17 case tables Spark
    # uses without ICU leave it as it is
    df = spark.createDataFrame([("\u2c2f",)], ["x"])
    assert df.select(hash_field(F.col("x"))).first()[0] == _ref_hash("\u2c2f")
    assert "\u2c2f".lower() == "\u2c5f"


def test_hash_email_golden(spark):
    df = spark.createDataFrame([(v,) for v, _ in GOLDEN_EMAIL], ["x"])
    got = [r[0] for r in df.select(hash_email(F.col("x"))).collect()]
    assert got == [h for _, h in GOLDEN_EMAIL]


def test_normalize_email(spark):
    cases = [
        ("Ca.Us@GMAIL.com", "caus@gmail.com"),
        ("a.b.c@googlemail.com", "abc@googlemail.com"),
        ("us.ca@doe.com", "us.ca@doe.com"),
        ("not-an-email", "not-an-email"),  # malformed → untouched
    ]
    df = spark.createDataFrame([(v,) for v, _ in cases], ["x"])
    got = [r[0] for r in df.select(normalize_email(F.col("x"))).collect()]
    assert got == [e for _, e in cases]


def test_hash_disabled_passthrough(spark):
    # reference FieldHasher returns the RAW field when hashing is off
    # (abstract_list_pii_hashing_mapper.py:26-31) — no trimming
    df = spark.createDataFrame([(" John ",)], ["x"])
    assert df.select(hash_field(F.col("x"), hash_enabled=False)).first()[0] == " John "
    # ...and for emails, the NORMALIZED email (ads mapper :34-37)
    df2 = spark.createDataFrame([("A.b@GMAIL.com",)], ["x"])
    assert df2.select(hash_email(F.col("x"), hash_enabled=False)).first()[0] == "ab@gmail.com"


def _ref_normalize_email(email_address: str) -> str:
    # verbatim mirror of reference normalize_email (:89-121) for golden vectors
    import re

    normalized = email_address.lower()
    parts = normalized.split("@")
    if len(parts) < 2:
        return email_address
    if re.match(r"^(gmail|googlemail)\.com$", parts[1]):
        parts[0] = parts[0].replace(".", "")
        normalized = "@".join(parts)
    return normalized


def _ref_hash(field: str) -> str:
    return hashlib.sha256(field.strip().lower().encode("utf-8")).hexdigest()


def test_email_hash_edge_golden_vectors(spark):
    # padded + malformed + multi-@ emails: byte-parity with the reference
    # composition hash_field(normalize_email(raw))
    cases = [
        "  Ca.Us@GMAIL.com",      # padded local: regex still matches, dots go
        "a.b@gmail.com  ",        # padded DOMAIN: regex fails, dots stay
        "NOT-AN-EMAIL",           # malformed: normalize passes through raw
        "A.b@gmail.com@X.com",    # multi-@: parts[1] gmail → local dots go
        "a.b@googlemail.com",
    ]
    df = spark.createDataFrame([(v,) for v in cases], ["x"])
    got = [
        (r["n"], r["h"])
        for r in df.select(
            normalize_email(F.col("x")).alias("n"), hash_email(F.col("x")).alias("h")
        ).collect()
    ]
    want = [(_ref_normalize_email(v), _ref_hash(_ref_normalize_email(v))) for v in cases]
    assert got == want


def test_ads_pii_shaping(spark):
    rows = [
        # full row → address_info present
        ("john@doe.com", "+551199999999", "John ", "Doe", "BR", "00000-000", "m1", "u1"),
        # partial address → address_info null (all-or-nothing,
        # reference ads_user_list_pii_hashing_mapper.py:42-58)
        ("a@b.com", None, "John", None, "BR", "123", "m2", "u2"),
    ]
    cols = [
        "email",
        "phone",
        "mailing_address_first_name",
        "mailing_address_last_name",
        "mailing_address_country",
        "mailing_address_zip",
        "mobile_device_id",
        "user_id",
    ]
    df = spark.createDataFrame(rows, cols)
    out = ads_pii_expressions(df)
    collected = out.collect()
    r0, r1 = collected
    assert r0["hashed_email"] == GOLDEN[0][1]
    assert r0["hashed_phone_number"] == GOLDEN[1][1]
    assert r0["address_info"]["hashed_first_name"] == GOLDEN[2][1]
    assert r0["address_info"]["hashed_last_name"] == GOLDEN[3][1]
    assert r0["address_info"]["country_code"] == "BR"
    assert r0["address_info"]["postal_code"] == "00000-000"  # not hashed
    assert r0["mobile_id"] == "m1"  # not hashed
    assert len(r0["third_party_user_id"]) == 64  # hashed
    assert r1["address_info"] is None
    # PII source columns dropped
    for c in ("email", "phone", "user_id", "mobile_device_id"):
        assert c not in out.columns


def test_dv_pii_shaping(spark):
    df = spark.createDataFrame(
        [("ca.us@gmail.com", "+551199999999", "John ", "Doe", "BR", "123")],
        [
            "email",
            "phone",
            "mailing_address_first_name",
            "mailing_address_last_name",
            "mailing_address_country_name",
            "mailing_address_zip_name",
        ],
    )
    r = dv_pii_expressions(df).first()
    assert r["hashedEmails"] == GOLDEN_EMAIL[0][1]
    assert r["hashedPhoneNumbers"] == GOLDEN[1][1]
    assert r["hashedFirstName"] == GOLDEN[2][1]
    assert r["hashedLastName"] == GOLDEN[3][1]
    assert r["countryCode"] == "BR"
    assert r["zipCodes"] == "123"


def test_empty_string_is_absent(spark):
    """Reference _is_data_present: '' ≡ absent → no hash emitted (never
    the sha256 of the empty string)."""
    df = spark.createDataFrame(
        [("", "+551199999999"), (None, ""), ("a@b.com", None)], ["email", "phone"]
    )
    rows = ads_pii_expressions(df).collect()
    # row 2 (None, "") shaped to nothing → dropped entirely
    assert len(rows) == 2
    by_phone = {r["hashed_phone_number"]: r for r in rows}
    assert by_phone[GOLDEN[1][1]]["hashed_email"] is None
    assert None in by_phone  # the email-only row


def test_address_country_zip_raw_passthrough(spark):
    df = spark.createDataFrame(
        [("John", "Doe", " BR ", " 01000 ")],
        [
            "mailing_address_first_name",
            "mailing_address_last_name",
            "mailing_address_country",
            "mailing_address_zip",
        ],
    )
    r = ads_pii_expressions(df).first()
    # raw, untrimmed — reference passes user[...] through as-is
    assert r["address_info"]["country_code"] == " BR "
    assert r["address_info"]["postal_code"] == " 01000 "


def test_dv_address_all_or_nothing(spark):
    df = spark.createDataFrame(
        [("John", "Doe", "BR", ""), ("John", "Doe", "BR", "123")],
        [
            "mailing_address_first_name",
            "mailing_address_last_name",
            "mailing_address_country_name",
            "mailing_address_zip_name",
        ],
    )
    rows = dv_pii_expressions(df).collect()
    # first row: zip empty → whole address absent → row shapes to nothing → dropped
    assert len(rows) == 1
    assert rows[0]["countryCode"] == "BR" and rows[0]["zipCodes"] == "123"


# Output columns, in order, of schema projection + PII shaping per PII
# destination type. ADS_ENHANCED_CONVERSION declares only ``.*``, so its
# source is _ENHANCED_SOURCE; every other source has the schema's columns.
_ENHANCED_SOURCE = [
    "gclid", "email", "phone", "mailing_address_first_name", "mailing_address_last_name",
    "mailing_address_country", "mailing_address_zip", "time",
]
_PII_OUTPUT_COLUMNS = {
    "ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD": ["hashed_email", "hashed_phone_number", "address_info"],
    "ADS_CUSTOMER_MATCH_MOBILE_DEVICE_ID_UPLOAD": ["mobile_id"],
    "ADS_CUSTOMER_MATCH_USER_ID_UPLOAD": ["third_party_user_id"],
    "ADS_SSD_UPLOAD": ["time", "amount", "hashed_email", "hashed_phone_number", "address_info"],
    "ADS_SSI_UPLOAD": [
        "time", "amount", "currency_code", "custom_value",
        "hashed_email", "hashed_phone_number", "address_info",
    ],
    "ADS_ENHANCED_CONVERSION": ["gclid", "time", "hashed_email", "hashed_phone_number", "address_info"],
    "ADS_ENHANCED_CONVERSION_LEADS": [
        "uuid", "time", "amount", "external_attribution_credit", "external_attribution_model",
        "consent_ad_user_data", "consent_ad_personalization", "hashed_email", "hashed_phone_number",
    ],
    "DV_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD": [
        "hashedEmails", "hashedPhoneNumbers", "hashedFirstName", "hashedLastName",
        "countryCode", "zipCodes",
    ],
    "DV_CUSTOMER_MATCH_DEVICE_ID_UPLOAD": ["mobileDeviceIds"],
}


def test_pii_shaping_output_columns_per_destination_type(spark):
    """Every destination type the pipeline PII-shapes keeps the pinned
    output columns and order; each shaping is one projection (and one
    all-NULL filter) over the schema's projection."""
    from megalista_spark.pipeline import _PII_TRANSFORMS, _TRANSFORMS
    from megalista_spark.schema.registry import get_schema

    pii = {d: t for d, t in _TRANSFORMS.items() if t in _PII_TRANSFORMS}
    assert sorted(d.name for d in pii) == sorted(_PII_OUTPUT_COLUMNS)
    for dtype, transform in pii.items():
        name = dtype.name
        schema = get_schema(dtype)
        cols = [c.name for c in schema.columns if not c.is_pattern] or _ENHANCED_SOURCE
        df = spark.createDataFrame([tuple(f"{c}@example.com" for c in cols)], cols)
        out = transform(schema.apply(df))
        assert out.columns == _PII_OUTPUT_COLUMNS[name], name
        assert out.count() == 1, name
        plan = out._jdf.queryExecution().logical().toString()
        assert plan.count("Project [") == 2 and plan.count("Filter ") == 1, (name, plan)

"""PII hashing / normalization as native Spark SQL expressions.

Byte-for-byte parity with the reference mappers:
- hash_field = sha256(field.strip().lower())  — reference
  mappers/abstract_list_pii_hashing_mapper.py:22-31
- normalize_email: lowercase; strip dots from the local part only for
  gmail.com / googlemail.com domains; malformed emails (no '@') untouched —
  abstract_list_pii_hashing_mapper.py:89-121
- Ads shaping (hashed_email / hashed_phone_number / address_info /
  mobile_id / third_party_user_id) — mappers/ads_user_list_pii_hashing_mapper.py:26-79
- DV360 flat camelCase shaping — mappers/dv_user_list_pii_hashing_mapper.py:25-68

Everything is a Column expression (JVM-side, whole-stage codegen) — no
Python UDFs. Golden SHA-256 vectors from the reference's tests are asserted
in tests/test_hashing.py. Parity relies on Spark's ICU case mappings staying
on (``spark.sql.icu.caseMappings.enabled``, the default): without them
``lower`` differs from ``str.lower`` on more letters (U+2C2F, for one).
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# What str.strip() removes (Spark's trim strips only the ASCII space); the
# last whitespace code point is U+3000.
_PY_WHITESPACE = "".join(c for c in map(chr, range(0x3001)) if c.isspace())


def _lower_trim(col: Column) -> Column:
    return F.lower(F.btrim(col, F.lit(_PY_WHITESPACE)))


def hash_field(col: Column, hash_enabled: bool = True) -> Column:
    """sha256(strip().lower()); RAW pass-through when hashing is off.

    The reference strips/lowers *before* hashing and returns the field
    untouched when the destination's hash toggle is 'false'
    (abstract_list_pii_hashing_mapper.py:26-31: ``return field``).
    """
    if not hash_enabled:
        return col
    return F.sha2(_lower_trim(col), 256)


# second '@'-segment of a gmail address (reference checks parts[1]).
_GMAIL_DOMAIN = r"^(gmail|googlemail)\.com$"


def normalize_email(col: Column) -> Column:
    """Lowercase, split on '@', strip dots from the local part only when
    the segment after the first '@' matches gmail/googlemail EXACTLY.

    Byte-parity details (abstract_list_pii_hashing_mapper.py:89-121):
    - NO trimming happens here — a whitespace-padded domain fails the
      reference's anchored regex and keeps its dots
    - malformed values (no '@') return the ORIGINAL input (not lowered —
      the reference assumes pre-hashed data and passes it through)
    - multi-'@' values keep everything after the first '@' as-is and test
      the regex against the segment between the first two '@'s (the
      reference's ``email_parts[1]``)
    """
    lowered = F.lower(col)
    local = F.substring_index(lowered, "@", 1)
    # reference email_parts[1]: between the first and second '@'
    part1 = F.substring_index(F.substring_index(lowered, "@", 2), "@", -1)
    # everything after the first '@' (rejoined untouched)
    rest = lowered.substr(F.length(local) + F.lit(2), F.length(lowered))
    is_email = lowered.contains("@")
    is_gmail = part1.rlike(_GMAIL_DOMAIN)
    normalized_local = F.when(is_gmail, F.regexp_replace(local, r"\.", "")).otherwise(
        local
    )
    return F.when(is_email, F.concat(normalized_local, F.lit("@"), rest)).otherwise(
        col
    )


def hash_email(col: Column, hash_enabled: bool = True) -> Column:
    """normalize then hash — the composition the reference applies to
    emails (ads_user_list_pii_hashing_mapper.py:34-37). hash_field's
    strip+lower runs on the NORMALIZED value, so malformed emails are
    still lowered before hashing; with hashing off the normalized email
    itself is returned (reference FieldHasher pass-through)."""
    if not hash_enabled:
        return normalize_email(col)
    return F.sha2(_lower_trim(normalize_email(col)), 256)


def normalize_phone(col: Column) -> Column:
    """The reference hashes phones as-is after strip/lower (no E.164
    re-formatting) — parity means we do the same."""
    return _lower_trim(col)


_ADDRESS_FIELDS = (
    "mailing_address_first_name",
    "mailing_address_last_name",
    "mailing_address_country",
    "mailing_address_zip",
)


def _data_present(col: Column) -> Column:
    """Reference _is_data_present (abstract_list_pii_hashing_mapper.py:50-51):
    present ⇔ not NULL and not empty string (raw value — NOT trimmed;
    whitespace-only counts as present, matching the reference exactly)."""
    return col.isNotNull() & (col != "")


def _hash_if_present(col: Column, hash_enabled: bool, email: bool = False) -> Column:
    expr = hash_email(col, hash_enabled) if email else hash_field(col, hash_enabled)
    return F.when(_data_present(col), expr)


def _shaped(df: DataFrame, shaped: dict[str, Column], consumed: set[str]) -> DataFrame:
    """``df`` with each ``shaped`` column set as ``withColumn`` sets it (in
    place when the name exists, else appended, in order) and the
    ``consumed`` columns dropped, as one select. Rows where every output
    column is NULL are dropped (the reference's ``if element`` filter on
    the shaped dict, abstract_list_pii_hashing_mapper.py:77-81)."""
    names = [c for c in df.columns if c not in consumed]
    names += [c for c in shaped if c not in names]
    quoted = {c: F.col("`" + c.replace("`", "``") + "`") for c in names}
    out = df.select(*[shaped[c].alias(c) if c in shaped else quoted[c] for c in names])
    if not names:
        return out
    return out.where(reduce(operator.or_, [quoted[c].isNotNull() for c in names]))


def ads_pii_expressions(df: DataFrame, hash_enabled: bool = True) -> DataFrame:
    """Google Ads customer-match PII shaping.

    Reference mappers/ads_user_list_pii_hashing_mapper.py:26-79:
    - email → hashed_email (normalized + hashed); empty string ≡ absent →
      NULL, never the hash of "" (_is_data_present parity)
    - phone → hashed_phone_number
    - address: only when ALL FOUR of first/last/country/zip are present →
      nested ``address_info`` struct; first/last hashed, country/zip passed
      through RAW — not hashed, not trimmed
      (ads_user_list_pii_hashing_mapper.py:42-58)
    - mobile_device_id → mobile_id (NOT hashed; empty ≡ absent)
    - user_id → third_party_user_id (hashed)
    Non-PII columns pass through untouched; the shaped columns follow them.
    Rows where every output column is NULL are dropped.
    """
    cols = df.columns
    shaped: dict[str, Column] = {}
    consumed: set[str] = set()
    if "email" in cols:
        shaped["hashed_email"] = _hash_if_present(F.col("email"), hash_enabled, email=True)
        consumed.add("email")
    if "phone" in cols:
        shaped["hashed_phone_number"] = _hash_if_present(F.col("phone"), hash_enabled)
        consumed.add("phone")
    first, last, country, zipc = _ADDRESS_FIELDS
    if all(c in cols for c in _ADDRESS_FIELDS):
        all_present = (
            _data_present(F.col(first))
            & _data_present(F.col(last))
            & _data_present(F.col(country))
            & _data_present(F.col(zipc))
        )
        shaped["address_info"] = F.when(
            all_present,
            F.struct(
                hash_field(F.col(first), hash_enabled).alias("hashed_first_name"),
                hash_field(F.col(last), hash_enabled).alias("hashed_last_name"),
                F.col(country).alias("country_code"),
                F.col(zipc).alias("postal_code"),
            ),
        )
        consumed.update(_ADDRESS_FIELDS)
    if "mobile_device_id" in cols:
        shaped["mobile_id"] = F.when(
            _data_present(F.col("mobile_device_id")), F.col("mobile_device_id")
        )
        consumed.add("mobile_device_id")
    if "user_id" in cols:
        shaped["third_party_user_id"] = _hash_if_present(F.col("user_id"), hash_enabled)
        consumed.add("user_id")
    return _shaped(df, shaped, consumed)


def dv_pii_expressions(df: DataFrame, hash_enabled: bool = True) -> DataFrame:
    """DV360 customer-match shaping — flat camelCase output.

    Reference mappers/dv_user_list_pii_hashing_mapper.py:25-68:
    hashedEmails, hashedPhoneNumbers; the address quadruple is
    ALL-OR-NOTHING (same gate as Ads) → hashedFirstName/hashedLastName
    (hashed) + countryCode/zipCodes (raw, unhashed); mobileDeviceIds.
    Empty string ≡ absent; rows shaping to all-NULL are dropped (base-class
    ``if element`` filter). The DV schema declares the country/zip columns
    as ``*_name`` while the mapper reads the unsuffixed names — accept
    either (prefer unsuffixed).
    """
    cols = df.columns
    shaped: dict[str, Column] = {}
    consumed: set[str] = set()
    if "email" in cols:
        shaped["hashedEmails"] = _hash_if_present(F.col("email"), hash_enabled, email=True)
        consumed.add("email")
    if "phone" in cols:
        shaped["hashedPhoneNumbers"] = _hash_if_present(F.col("phone"), hash_enabled)
        consumed.add("phone")
    first, last = "mailing_address_first_name", "mailing_address_last_name"
    country = "mailing_address_country" if "mailing_address_country" in cols else "mailing_address_country_name"
    zipc = "mailing_address_zip" if "mailing_address_zip" in cols else "mailing_address_zip_name"
    if all(c in cols for c in (first, last, country, zipc)):
        all_present = (
            _data_present(F.col(first))
            & _data_present(F.col(last))
            & _data_present(F.col(country))
            & _data_present(F.col(zipc))
        )
        shaped["hashedFirstName"] = F.when(all_present, hash_field(F.col(first), hash_enabled))
        shaped["hashedLastName"] = F.when(all_present, hash_field(F.col(last), hash_enabled))
        shaped["countryCode"] = F.when(all_present, F.col(country))
        shaped["zipCodes"] = F.when(all_present, F.col(zipc))
        consumed.update((first, last, country, zipc))
    if "mobile_device_id" in cols:
        shaped["mobileDeviceIds"] = F.when(
            _data_present(F.col("mobile_device_id")), F.col("mobile_device_id")
        )
        consumed.add("mobile_device_id")
    return _shaped(df, shaped, consumed)

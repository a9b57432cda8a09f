from megalista_spark.functions.hashing import (
    ads_pii_expressions,
    dv_pii_expressions,
    hash_field,
    normalize_email,
    normalize_phone,
)

__all__ = [
    "ads_pii_expressions",
    "dv_pii_expressions",
    "hash_field",
    "normalize_email",
    "normalize_phone",
]

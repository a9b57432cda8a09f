"""Schema registry: required / regex / groups validation, projection, casts,
CM customVariables aggregation (golden behavior from reference
data_sources/data_schemas_test.py:20-96)."""

from __future__ import annotations

import pytest

from megalista_spark.models.execution import DestinationType, TransactionalType
from megalista_spark.schema.registry import (
    SchemaValidationError,
    aggregate_custom_variables,
    get_schema,
)


def test_required_missing_raises(spark):
    schema = get_schema(DestinationType.ADS_OFFLINE_CONVERSION)
    with pytest.raises(SchemaValidationError, match="missing required"):
        schema.validate(["gclid", "amount"])  # no `time`


def test_group_validation():
    schema = get_schema(DestinationType.CM_OFFLINE_CONVERSION)
    with pytest.raises(SchemaValidationError, match="at least one of"):
        schema.validate(["uuid", "value"])  # no identifier column
    schema.validate(["uuid", "gclid"])  # ok


def test_regex_columns_match():
    schema = get_schema(DestinationType.GA_MEASUREMENT_PROTOCOL)
    cols = ["uuid", "client_id", "event_category", "event_action", "cd12", "cm3", "junk"]
    schema.validate(cols)
    kept = schema.resolve_columns(cols)
    assert "cd12" in kept and "cm3" in kept
    assert "junk" not in kept  # projection drops undeclared columns


def test_projection_and_cast(spark):
    schema = get_schema(DestinationType.CM_OFFLINE_CONVERSION)
    df = spark.createDataFrame(
        [("u1", "g1", "10", "2", "extra")],
        ["uuid", "gclid", "value", "quantity", "undeclared"],
    )
    out = schema.apply(df)
    assert "undeclared" not in out.columns
    types = dict(out.dtypes)
    assert types["value"] == "int"
    assert types["quantity"] == "int"
    row = out.first()
    assert row["value"] == 10


def test_custom_variables_aggregation_golden(spark):
    # reference data_schemas_test.py:57-70: two rows uuid=123 with
    # (U1,123),(U2,456) collapse to one row with the struct array.
    df = spark.createDataFrame(
        [
            ("123", "g1", "U1", "123"),
            ("123", "g1", "U2", "456"),
            ("999", "g2", None, None),
        ],
        ["uuid", "gclid", "customVariables.type", "customVariables.value"],
    )
    out = aggregate_custom_variables(df)
    rows = {r["uuid"]: r for r in out.collect()}
    assert out.count() == 2
    cv = rows["123"]["customVariables"]
    assert [(x["type"], x["value"]) for x in cv] == [("U1", "123"), ("U2", "456")]
    assert rows["999"]["customVariables"] is None


def test_apply_keeps_dotted_column_names_for_custom_variables(spark):
    # customVariables.type/.value are literal column names, not struct fields
    df = spark.createDataFrame(
        [("123", "g1", "10", "U1", "123"), ("123", "g1", "10", "U2", "456")],
        ["uuid", "gclid", "value", "customVariables.type", "customVariables.value"],
    )
    applied = get_schema(DestinationType.CM_OFFLINE_CONVERSION).apply(df)
    assert applied.columns == df.columns
    assert dict(applied.dtypes)["value"] == "int"
    rows = aggregate_custom_variables(applied).collect()
    assert [(r["uuid"], r["value"]) for r in rows] == [("123", 10)]
    assert [(x["type"], x["value"]) for x in rows[0]["customVariables"]] == [
        ("U1", "123"), ("U2", "456"),
    ]


def test_transactional_type_wiring():
    assert get_schema(
        DestinationType.ADS_OFFLINE_CONVERSION
    ).transactional_type == TransactionalType.GCLID_TIME
    assert TransactionalType.GCLID_TIME.keys == ("gclid", "time")


def test_sql_function_registry_matches_column_twins(spark):
    # SQL-defined functions (JVM expression bodies) must agree with the
    # Column-API library on golden + edge inputs
    from pyspark.sql import functions as F

    from megalista_spark.functions.hashing import hash_field, normalize_email
    from megalista_spark.sql import register_sql_functions

    register_sql_functions(spark)
    cases = [
        "John.Doe@Gmail.com",
        "j.o.h.n@googlemail.com",
        "user@example.com",
        "  padded@gmail.com  ",
        "no-at-sign",
        "a@b@gmail.com",
        "MiXeD@GMAIL.COM",
        "\tpadded@x.com\n",
        "\u00a0nbsp@x.com",
    ]
    df = spark.createDataFrame([(c,) for c in cases], ["e"])
    df.createOrReplaceTempView("_sqlfn_cases")
    got = {
        r["e"]: (r["n"], r["h"])
        for r in spark.sql(
            "SELECT e, normalize_email(e) AS n, hash_pii(e) AS h FROM _sqlfn_cases"
        ).collect()
    }
    exp = {
        r["e"]: (r["n"], r["h"])
        for r in df.select(
            "e",
            normalize_email(F.col("e")).alias("n"),
            hash_field(F.col("e")).alias("h"),
        ).collect()
    }
    assert got == exp

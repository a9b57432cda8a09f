"""BigQuery contract tests: DDL / dedup-SQL / insert-row goldens against
the reference templates (big_query_data_source.py:58-205) and the exact
spark-bigquery connector options the read path would receive — all
asserted without the jar or the google-cloud-bigquery client.
"""

from __future__ import annotations

import re

import pytest

from megalista_spark.models.execution import Source, SourceType, TransactionalType
from megalista_spark.sources.bigquery_control import (
    BQ_PAGE_SIZE,
    BigQueryControlTable,
    control_rows,
    control_schema_fields,
    control_table_ddl,
    control_table_name,
    transactional_dedup_sql,
)


def _norm(sql: str) -> str:
    return re.sub(r"\s+", " ", sql).strip()


def test_control_ddl_matches_reference_templates():
    """reference _ensure_control_table_exists(:118-148): column sets,
    _PARTITIONDATE partitioning, partition_expiration_days=15."""
    ddl = control_table_ddl("ops.conv_uploaded", TransactionalType.GCLID_TIME)
    assert _norm(ddl) == _norm(
        "CREATE TABLE IF NOT EXISTS `ops.conv_uploaded` ( "
        "timestamp TIMESTAMP OPTIONS(description= 'Event timestamp'), "
        "gclid STRING OPTIONS(description= 'Original gclid'), "
        "time STRING OPTIONS(description= 'Adjustment time')) "
        "PARTITION BY _PARTITIONDATE "
        "OPTIONS(partition_expiration_days=15)"
    )
    uuid_ddl = control_table_ddl("ops.t_uploaded", TransactionalType.UUID)
    assert "uuid STRING OPTIONS(description='Event unique identifier')" in uuid_ddl
    oid_ddl = control_table_ddl("ops.t_uploaded", TransactionalType.ORDER_ID_TIME)
    assert "order_id STRING OPTIONS(description= 'Order Id (transaction Id)')" in oid_ddl
    for d in (ddl, uuid_ddl, oid_ddl):
        assert "partition_expiration_days=15" in d
        assert "PARTITION BY _PARTITIONDATE" in d
    with pytest.raises(ValueError):
        control_table_ddl("x", TransactionalType.NOT_TRANSACTIONAL)


def test_dedup_sql_matches_reference_templates():
    """reference _retrieve_data_transactional(:85-100): per-type USING
    keys and the NULL probe column."""
    sql = transactional_dedup_sql(
        "ds.conv", "ops.conv_uploaded", ["gclid", "time", "amount"],
        TransactionalType.GCLID_TIME,
    )
    assert _norm(sql) == _norm(
        "SELECT data.gclid,data.time,data.amount FROM `ds.conv` AS data "
        "LEFT JOIN `ops.conv_uploaded` AS uploaded USING(gclid, time) "
        "WHERE uploaded.gclid IS NULL"
    )
    sql_u = transactional_dedup_sql(
        "ds.t", "ops.t_uploaded", ["uuid", "x"], TransactionalType.UUID
    )
    assert "USING(uuid)" in sql_u and "uploaded.uuid IS NULL" in sql_u
    sql_o = transactional_dedup_sql(
        "ds.t", "ops.t_uploaded", ["order_id", "time"],
        TransactionalType.ORDER_ID_TIME,
    )
    assert "USING(order_id, time)" in sql_o and "uploaded.order_id IS NULL" in sql_o


def test_control_table_name_uses_ops_dataset():
    """reference _get_table_name(:181-191): transactional control lives in
    the ops dataset, `-suffixed _uploaded, backticks stripped."""
    assert (
        control_table_name(["ds1", "conv"], "ops", TransactionalType.GCLID_TIME)
        == "ops.conv_uploaded"
    )
    assert (
        control_table_name(["ds`1", "co`nv"], "op`s", TransactionalType.UUID)
        == "ops.conv_uploaded"
    )


def test_control_rows_and_schema_fields():
    """reference _get_bq_rows(:198-205) + _get_schema_fields(:193-197)."""
    rows = control_rows(
        [{"gclid": "g1", "time": "t1", "amount": 5}],
        TransactionalType.GCLID_TIME,
        now=123.5,
    )
    assert rows == [{"gclid": "g1", "time": "t1", "timestamp": 123.5}]
    assert control_schema_fields(TransactionalType.GCLID_TIME) == (
        ("gclid", "string"),
        ("time", "string"),
        ("timestamp", "timestamp"),
    )
    assert control_schema_fields(TransactionalType.UUID) == (
        ("uuid", "string"),
        ("timestamp", "timestamp"),
    )


class FakeBqClient:
    def __init__(self):
        self.queries = []
        self.inserts = []

    def query(self, sql):
        self.queries.append(sql)

        class _R:
            def result(self):
                return []

        return _R()

    def get_table(self, name):
        return f"table:{name}"

    def insert_rows(self, table, rows, schema_fields):
        self.inserts.append((table, list(rows), schema_fields))
        return []


def test_bq_control_lifecycle_and_paging():
    client = FakeBqClient()
    ctrl = BigQueryControlTable(
        client, ["ds1", "conv"], "ops", TransactionalType.UUID
    )
    ctrl.ensure_exists()
    assert "CREATE TABLE IF NOT EXISTS `ops.conv_uploaded`" in client.queries[0]

    # paging at BQ_PAGE_SIZE (reference :166-170)
    rows = [{"uuid": f"u{i}"} for i in range(BQ_PAGE_SIZE + 5)]
    errors = ctrl.append(rows, now=1.0)
    assert errors == []
    assert len(client.inserts) == 2
    assert len(client.inserts[0][1]) == BQ_PAGE_SIZE
    assert len(client.inserts[1][1]) == 5
    assert client.inserts[0][0] == "table:ops.conv_uploaded"
    assert client.inserts[0][1][0] == {"uuid": "u0", "timestamp": 1.0}

    assert ctrl.append([], now=1.0) == []  # reference :154-157 skip
    with pytest.raises(ValueError, match="ops_dataset"):
        BigQueryControlTable(client, ["ds", "t"], "", TransactionalType.UUID)
    with pytest.raises(ValueError):
        BigQueryControlTable(
            client, ["ds", "t"], "ops", TransactionalType.NOT_TRANSACTIONAL
        )


def test_connector_options_contract(spark):
    """The exact options the spark-bigquery reader receives: plain table
    read vs BQ-side-dedup query read (viewsEnabled + materialization
    dataset are the connector's query-mode requirements)."""
    from megalista_spark.sources.data_source import BigQueryDataSource

    src = Source("s1", SourceType.BIG_QUERY, ("ds1", "conv"))
    plain = BigQueryDataSource(spark, src)
    assert plain.connector_options() == {"table": "ds1.conv"}
    assert plain.connector_options(TransactionalType.GCLID_TIME) == {
        "table": "ds1.conv"
    }

    bq_dedup = BigQueryDataSource(
        spark, src, ops_dataset="ops", bq_client=FakeBqClient()
    )
    opts = bq_dedup.connector_options(
        TransactionalType.GCLID_TIME, cols=["gclid", "time", "amount"]
    )
    assert opts["viewsEnabled"] == "true"
    assert opts["materializationDataset"] == "ops"
    assert _norm(opts["query"]) == _norm(
        "SELECT data.gclid,data.time,data.amount FROM `ds1.conv` AS data "
        "LEFT JOIN `ops.conv_uploaded` AS uploaded USING(gclid, time) "
        "WHERE uploaded.gclid IS NULL"
    )


def test_live_client_maps_schema_fields(monkeypatch):
    """The live client's ``insert_rows`` reads ``.name`` from each selected
    field, so the (name, type) pairs must arrive as bigquery.SchemaField."""
    import sys
    import types

    from megalista_spark.sources import bigquery_control

    class SchemaField:
        def __init__(self, name, field_type):
            self.name, self.field_type = name, field_type

    class Client:
        def __init__(self):
            self.inserts = []

        def get_table(self, name):
            return f"table:{name}"

        def insert_rows(self, table, rows, selected_fields=None):
            names = [f.name for f in selected_fields]  # as the live client
            self.inserts.append((table, rows, names, selected_fields))
            return []

    bigquery = types.ModuleType("google.cloud.bigquery")
    bigquery.Client, bigquery.SchemaField = Client, SchemaField
    cloud = types.ModuleType("google.cloud")
    cloud.bigquery = bigquery
    monkeypatch.setitem(sys.modules, "google.cloud", cloud)
    monkeypatch.setitem(sys.modules, "google.cloud.bigquery", bigquery)

    client = bigquery_control.bigquery_client()
    table = BigQueryControlTable(
        client, ["ds", "events"], "ops", TransactionalType.GCLID_TIME
    )
    errors = table.append([{"gclid": "g1", "time": "t1", "x": 1}], now=7.0)
    assert errors == []
    [(tbl, rows, names, fields)] = client.inserts
    assert tbl == "table:ops.events_uploaded"
    assert rows == [{"gclid": "g1", "time": "t1", "timestamp": 7.0}]
    assert names == ["gclid", "time", "timestamp"]
    assert [f.field_type for f in fields] == ["STRING", "STRING", "TIMESTAMP"]

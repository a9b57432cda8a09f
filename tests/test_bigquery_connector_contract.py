"""Executable BigQuery read contract WITHOUT the connector jar
(VERDICT r6 item 5): register a fake Python Data Source under the
``bigquery`` format name (PySpark 4 Python Data Source API) that echoes
every option it receives back as rows, then drive the REAL read path —
``BigQueryDataSource.read_raw`` / ``retrieve_data`` — and assert the
exact options + pushed dedup query that the spark-bigquery connector
would receive. Reference parity: big_query_data_source.py:58-148 (table
read, transactional LEFT-JOIN dedup shipped to BQ). The fake also serves
one data table, so a whole ``Pipeline.run`` over a BigQuery source with
an ops dataset runs against it.
"""

from __future__ import annotations

import pytest

from megalista_spark.models.execution import Source, SourceType, TransactionalType
from megalista_spark.sources.data_source import BigQueryDataSource


def _norm(sql: str) -> str:
    return " ".join(sql.split()).replace(" ,", ",").replace(", ", ",").lower()


# The one table the fake serves as data: ADS_OFFLINE_CONVERSION_CALLS rows,
# returned only to the dedup query a source with ops dataset "ops" ships.
# Every other read echoes its options.
_CALLS_COLUMNS = [
    "uuid", "caller_id", "call_time", "time", "amount",
    "consent_ad_user_data", "consent_ad_personalization",
]
_CALLS_ROWS = [
    (f"u{i}", f"+1555000{i}", "2024-01-01T10:00:00", "2024-01-01T11:00:00",
     str(i), "GRANTED", "GRANTED")
    for i in range(5)
]
_CALLS_DEDUP_SQL = (
    f"SELECT {','.join('data.' + c for c in _CALLS_COLUMNS)} "
    "FROM `ds1.calls` AS data "
    "LEFT JOIN `ops.calls_uploaded` AS uploaded USING(uuid) "
    "WHERE uploaded.uuid IS NULL"
)


def _serves_calls(options) -> bool:
    query = {str(k).lower(): v for k, v in options.items()}.get("query", "")
    return _norm(query) == _norm(_CALLS_DEDUP_SQL)


class _FakeBqClient:
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
        self.inserts.append((table, rows))
        return []


@pytest.fixture(scope="module")
def fake_bigquery(spark):
    """Register the echoing fake under the connector's format name."""
    from pyspark.sql.datasource import DataSource, DataSourceReader

    class _EchoReader(DataSourceReader):
        def __init__(self, options):
            self._options = dict(options)

        def read(self, partition):
            if _serves_calls(self._options):
                yield from _CALLS_ROWS
                return
            for k, v in self._options.items():
                yield (str(k), str(v))

    class FakeBigQuery(DataSource):
        @classmethod
        def name(cls):
            return "bigquery"

        def schema(self):
            if _serves_calls(self.options):
                return ", ".join(f"{c} string" for c in _CALLS_COLUMNS)
            return "option_key string, option_value string"

        def reader(self, schema):
            return _EchoReader(self.options)

    spark.dataSource.register(FakeBigQuery)
    return spark


def _options_of(df) -> dict:
    # Spark's DSv2 option map is case-insensitive (keys arrive lowercased)
    return {r.option_key.lower(): r.option_value for r in df.collect()}


def test_plain_table_read_reaches_connector(fake_bigquery, spark):
    src = Source("s1", SourceType.BIG_QUERY, ("ds1", "conv"))
    got = _options_of(BigQueryDataSource(spark, src).read_raw())
    assert got["table"] == "ds1.conv"
    assert "query" not in got


def test_bq_side_dedup_query_ships_in_options(fake_bigquery, spark):
    """ops dataset + transactional: the LEFT-JOIN dedup SQL must ship as
    the connector ``query`` option with the query-mode requirements
    (viewsEnabled + materializationDataset), and retrieve_data must NOT
    add a Spark-side anti-join on top (BQ already excluded uploaded
    rows)."""
    src = Source("s1", SourceType.BIG_QUERY, ("ds1", "conv"))
    ds = BigQueryDataSource(
        spark, src, ops_dataset="ops", bq_client=_FakeBqClient()
    )
    df = ds.retrieve_data(schema=None, transactional_type=TransactionalType.GCLID_TIME)
    # the control table the pushed LEFT JOIN references was ensured first
    # (idempotent DDL, 15-day partition expiry — reference
    # big_query_data_source.py:119-127), or the first run would fail
    # with table-not-found
    assert any(
        "CREATE TABLE IF NOT EXISTS `ops.conv_uploaded`" in q
        for q in ds.bq_client.queries
    )
    # plan is the bare fake scan — no join node (dedup happened in BQ)
    assert "Join" not in df._jdf.queryExecution().optimizedPlan().toString()
    got = _options_of(df)
    assert got["viewsenabled"] == "true"
    assert got["materializationdataset"] == "ops"
    assert _norm(got["query"]) == _norm(
        "SELECT data.* FROM `ds1.conv` AS data "
        "LEFT JOIN `ops.conv_uploaded` AS uploaded USING(gclid, time) "
        "WHERE uploaded.gclid IS NULL"
    )


def test_non_transactional_bq_source_reads_plain_table(fake_bigquery, spark):
    src = Source("s1", SourceType.BIG_QUERY, ("ds1", "conv"))
    ds = BigQueryDataSource(
        spark, src, ops_dataset="ops", bq_client=_FakeBqClient()
    )
    got = _options_of(
        ds.retrieve_data(
            schema=None, transactional_type=TransactionalType.NOT_TRANSACTIONAL
        )
    )
    assert got["table"] == "ds1.conv"
    assert "query" not in got


def test_literal_schema_columns_push_into_dedup_query(fake_bigquery, spark):
    """An all-literal schema contract pushes its column list server-side
    so only contract columns cross the Storage API."""
    src = Source("s1", SourceType.BIG_QUERY, ("ds1", "conv"))
    ds = BigQueryDataSource(
        spark, src, ops_dataset="ops", bq_client=_FakeBqClient()
    )
    got = _options_of(
        ds.read_raw(TransactionalType.GCLID_TIME, ["gclid", "time", "amount"])
    )
    assert _norm(got["query"]).startswith(
        _norm("SELECT data.gclid, data.time, data.amount FROM `ds1.conv`")
    )


def test_pipeline_run_dedups_in_bigquery_with_ops_dataset(
    fake_bigquery, spark, monkeypatch
):
    """A transactional BigQuery branch of ``Pipeline.run`` with an ops
    dataset: the control DDL runs, the dedup query ships to the connector
    with no Spark-side join, and the accepted keys go to ``insert_rows``."""
    from megalista_spark.pipeline import Pipeline
    from megalista_spark.sinks.transports import MockTransport
    from megalista_spark.sources import bigquery_control
    from megalista_spark.sources.config_json import parse_config

    client = _FakeBqClient()
    monkeypatch.setattr(bigquery_control, "bigquery_client", lambda: client)
    frames = []
    retrieve = BigQueryDataSource.retrieve_data

    def spy(self, *args, **kwargs):
        frames.append(retrieve(self, *args, **kwargs))
        return frames[-1]

    monkeypatch.setattr(BigQueryDataSource, "retrieve_data", spy)
    executions = parse_config(
        {
            "GoogleAdsAccountId": "123",
            "Sources": [
                {"Name": "calls", "Type": "BIG_QUERY", "Dataset": "ds1", "Table": "calls"}
            ],
            "Destinations": [
                {"Name": "c", "Type": "ADS_OFFLINE_CONVERSION_CALLS", "Metadata": ["act"]}
            ],
            "Connections": [{"Enabled": True, "Source": "calls", "Destination": "c"}],
        }
    )
    result = Pipeline(
        spark, executions, lambda e: MockTransport(), bq_ops_dataset="ops"
    ).run()

    assert result.exit_code == 0, result.branches[0].errors
    assert result.branches[0].rows_uploaded == len(_CALLS_ROWS)
    assert any(
        "CREATE TABLE IF NOT EXISTS `ops.calls_uploaded`" in q for q in client.queries
    )
    # the fake serves rows only to the dedup query, and BigQuery already
    # excluded uploaded keys, so the plan has no join
    assert len(frames) == 1
    assert "Join" not in frames[0]._jdf.queryExecution().optimizedPlan().toString()
    assert [table for table, _ in client.inserts] == ["table:ops.calls_uploaded"]
    inserted = client.inserts[0][1]
    assert sorted(r["uuid"] for r in inserted) == [r[0] for r in _CALLS_ROWS]
    assert all(set(r) == {"uuid", "timestamp"} for r in inserted)


def test_bq_control_insert_errors_are_returned(spark):
    """Rows BigQuery refuses come back as messages, which ``Pipeline``
    records as branch errors."""

    class _RejectingClient(_FakeBqClient):
        def insert_rows(self, table, rows, schema_fields):
            return [{"index": 0, "errors": ["invalid"]}]

    src = Source("s1", SourceType.BIG_QUERY, ("ds1", "calls"))
    ds = BigQueryDataSource(spark, src, ops_dataset="ops", bq_client=_RejectingClient())
    uploaded = spark.createDataFrame([("u1", "+1")], ["uuid", "caller_id"])
    messages = ds.record_uploaded(TransactionalType.UUID, uploaded)
    assert len(messages) == 1 and "invalid" in messages[0]

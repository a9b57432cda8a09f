"""BigQuery-side transactional control: the BQ twin of the parquet
``ControlTable`` (reference big_query_data_source.py:58-202).

A transactional BigQuery source requires an ops dataset
(``--bq_ops_dataset``), as the reference does: its control table lives
there, and this module supplies the reference's BQ-NATIVE semantics:

- control-table DDL with ``PARTITION BY _PARTITIONDATE`` and
  ``partition_expiration_days=15`` (reference :118-148) — BigQuery
  expires old control partitions server-side, the managed twin of the
  parquet ControlTable's vacuum()
- the transactional dedup SELECT that LEFT JOINs the control table
  INSIDE BigQuery (reference :85-100) — handed to the spark-bigquery
  connector as a ``query`` option, the dedup runs before any byte
  crosses the wire (at 100 TB source scale this beats shipping the
  uploaded-set to Spark when the control table is large)
- control append via ``insert_rows`` in 20k-row pages (reference
  :153-176, page size :33)

The google-cloud-bigquery client is injectable (absent in this build
environment); tests assert the DDL/SQL/row-shape goldens against the
reference templates.
"""

from __future__ import annotations

import datetime as dt
from typing import Any, Iterable, Protocol, Sequence

from megalista_spark.models.execution import RETENTION_DAYS, TransactionalType

BQ_PAGE_SIZE = 20_000  # reference big_query_data_source.py:33


class BigQueryJobClient(Protocol):
    """Slice of google.cloud.bigquery.Client this module needs."""

    def query(self, sql: str) -> Any: ...

    def get_table(self, table_name: str) -> Any: ...

    def insert_rows(
        self, table: Any, rows: list[dict], schema_fields: Sequence[Any]
    ) -> list: ...


_KEY_COLUMN_DDL: dict[TransactionalType, str] = {
    # reference :121-144 — column names, types and descriptions verbatim
    TransactionalType.UUID: (
        "uuid STRING OPTIONS(description='Event unique identifier')"
    ),
    TransactionalType.GCLID_TIME: (
        "gclid STRING OPTIONS(description= 'Original gclid'), "
        "time STRING OPTIONS(description= 'Adjustment time')"
    ),
    TransactionalType.ORDER_ID_TIME: (
        "order_id STRING OPTIONS(description= 'Order Id (transaction Id)'), "
        "time STRING OPTIONS(description= 'Adjustment time')"
    ),
}

_NULL_PROBE: dict[TransactionalType, str] = {
    # reference :92-99 — the column whose NULL-ness proves "not uploaded"
    TransactionalType.UUID: "uuid",
    TransactionalType.GCLID_TIME: "gclid",
    TransactionalType.ORDER_ID_TIME: "order_id",
}


def control_table_name(
    source_metadata: Sequence[str],
    ops_dataset: str,
    transactional_type: TransactionalType,
) -> str:
    """reference _get_table_name(:181-191): transactional control tables
    live in the ops dataset; the name is ``<table>_uploaded``."""
    dataset = (
        ops_dataset
        if transactional_type != TransactionalType.NOT_TRANSACTIONAL
        else source_metadata[0]
    )
    return f"{dataset}.{source_metadata[1]}_uploaded".replace("`", "")


def data_table_name(source_metadata: Sequence[str]) -> str:
    return f"{source_metadata[0]}.{source_metadata[1]}".replace("`", "")


def control_table_ddl(
    uploaded_table_name: str, transactional_type: TransactionalType
) -> str:
    """reference _ensure_control_table_exists(:118-148) — the exact DDL
    including _PARTITIONDATE partitioning and the 15-day expiry."""
    if transactional_type not in _KEY_COLUMN_DDL:
        raise ValueError(f"Unrecognized TransactionalType: {transactional_type}")
    return (
        f"CREATE TABLE IF NOT EXISTS `{uploaded_table_name}` ( "
        "timestamp TIMESTAMP OPTIONS(description= 'Event timestamp'), "
        f"{_KEY_COLUMN_DDL[transactional_type]}) "
        "PARTITION BY _PARTITIONDATE "
        f"OPTIONS(partition_expiration_days={RETENTION_DAYS})"
    )


def transactional_dedup_sql(
    table_name: str,
    uploaded_table_name: str,
    cols: Sequence[str],
    transactional_type: TransactionalType,
) -> str:
    """reference _retrieve_data_transactional(:85-104): the dedup LEFT
    JOIN that runs inside BigQuery. Handing this to the spark-bigquery
    connector's ``query`` option keeps the join server-side."""
    probe = _NULL_PROBE.get(transactional_type)
    if probe is None:
        raise ValueError(f"Unrecognized TransactionalType: {transactional_type}")
    keys = ", ".join(transactional_type.keys)
    query_cols = ",".join(f"data.{c}" for c in cols)
    return (
        f"SELECT {query_cols} FROM `{table_name}` AS data "
        f"LEFT JOIN `{uploaded_table_name}` AS uploaded USING({keys}) "
        f"WHERE uploaded.{probe} IS NULL"
    )


def control_rows(
    rows: Iterable[dict],
    transactional_type: TransactionalType,
    now: float | None = None,
) -> list[dict]:
    """reference _get_bq_rows(:198-205): key columns + a shared upload
    timestamp."""
    if now is None:
        now = dt.datetime.now(dt.timezone.utc).timestamp()
    keys = transactional_type.keys
    if not keys:
        raise ValueError(f"Unrecognized TransactionalType: {transactional_type}")
    return [{**{k: row[k] for k in keys}, "timestamp": now} for row in rows]


def control_schema_fields(transactional_type: TransactionalType) -> tuple:
    """reference _get_schema_fields(:193-197), as (name, type) pairs so no
    client library is needed to express the contract; a live caller maps
    them to bigquery.SchemaField."""
    if transactional_type == TransactionalType.UUID:
        return (("uuid", "string"), ("timestamp", "timestamp"))
    if transactional_type == TransactionalType.GCLID_TIME:
        return (("gclid", "string"), ("time", "string"), ("timestamp", "timestamp"))
    if transactional_type == TransactionalType.ORDER_ID_TIME:
        return (
            ("order_id", "string"),
            ("time", "string"),
            ("timestamp", "timestamp"),
        )
    raise ValueError(f"Unrecognized TransactionalType: {transactional_type}")


def require_ops_dataset(ops_dataset: str) -> None:
    """reference __init__(:48-52) refuses transactional BQ without an ops
    dataset."""
    if not ops_dataset:
        raise ValueError("bq_ops_dataset is required for transactional BigQuery sources")


def bigquery_client() -> BigQueryJobClient:
    """The live client; only transactional BigQuery sources import it. Its
    ``insert_rows`` reads ``.name`` from each selected field, so the
    (name, type) pairs of control_schema_fields become SchemaField here."""
    from google.cloud import bigquery

    class Client(bigquery.Client):
        def insert_rows(self, table, rows, schema_fields):
            fields = [bigquery.SchemaField(n, t.upper()) for n, t in schema_fields]
            return super().insert_rows(table, rows, fields)

    return Client()


class BigQueryControlTable:
    """Stateful wrapper driving a BigQueryJobClient through the control
    lifecycle: ensure → (connector reads via transactional_dedup_sql) →
    append."""

    def __init__(
        self,
        client: BigQueryJobClient,
        source_metadata: Sequence[str],
        ops_dataset: str,
        transactional_type: TransactionalType,
    ):
        if transactional_type == TransactionalType.NOT_TRANSACTIONAL:
            raise ValueError("control table needs a transactional type")
        require_ops_dataset(ops_dataset)
        self.client = client
        self.source_metadata = list(source_metadata)
        self.ops_dataset = ops_dataset
        self.transactional_type = transactional_type

    @property
    def uploaded_table_name(self) -> str:
        return control_table_name(
            self.source_metadata, self.ops_dataset, self.transactional_type
        )

    def ensure_exists(self) -> None:
        self.client.query(
            control_table_ddl(self.uploaded_table_name, self.transactional_type)
        ).result()

    def dedup_sql(self, cols: Sequence[str]) -> str:
        return transactional_dedup_sql(
            data_table_name(self.source_metadata),
            self.uploaded_table_name,
            cols,
            self.transactional_type,
        )

    def append(self, rows: list[dict], now: float | None = None) -> list:
        """Page the insert at BQ_PAGE_SIZE (reference :166-170); returns
        the per-page insert errors flattened."""
        if not rows:
            return []
        table = self.client.get_table(self.uploaded_table_name)
        bq_rows = control_rows(rows, self.transactional_type, now)
        fields = control_schema_fields(self.transactional_type)
        errors: list = []
        for i in range(0, len(bq_rows), BQ_PAGE_SIZE):
            errors.extend(
                self.client.insert_rows(table, bq_rows[i : i + BQ_PAGE_SIZE], fields)
            )
        return errors

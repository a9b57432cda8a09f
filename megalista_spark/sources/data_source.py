"""Data-plane sources: file readers + control ("uploaded") tables.

Reference behaviors re-expressed Spark-first:

- factory dispatch (data_sources/data_source.py:28-43)
- CSV read all-string then cast / Parquet columns pushdown
  (file_data_source.py:182-216) → plain ``spark.read`` with select —
  Catalyst prunes columns down to the scan
- transactional dedup = LEFT ANTI join against the control table
  (big_query_data_source.py:76-116, file_data_source.py:71-92)
- control table: append-only (key..., timestamp) with 15-day retention
  applied at READ time (big_query_data_source.py:118-148,
  file_data_source.py:141-147); missing control table reads as a typed
  empty frame (file_data_source.py:127-138)

At 100 TB: the anti-join's control side is usually small relative to the
source (only the last 15 days of uploaded keys) — AQE picks a broadcast
anti-join when it fits; otherwise a shuffled hash join on the dedup key.
No collect()s, no driver-side loops.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from megalista_spark.models.execution import (
    Execution,
    Source,
    SourceType,
    TransactionalType,
)
from megalista_spark.schema.registry import DestinationSchema
from megalista_spark.sources import bigquery_control

RETENTION_DAYS = 15  # reference big_query_data_source.py:125,132,139


@dataclass
class ControlTable:
    """The `<source>_uploaded` sidecar: append-only (timestamp, keys...).

    Parquet-backed here (Delta would be the production choice; parquet
    append has the same semantics for this access pattern — we only ever
    append and scan with a time filter).
    """

    spark: SparkSession
    path: str
    keys: tuple[str, ...]

    def schema(self, key_types: dict[str, T.DataType] | None = None) -> T.StructType:
        fields = [T.StructField("timestamp", T.TimestampType(), False)]
        for k in self.keys:
            dtype = (key_types or {}).get(k, T.StringType())
            fields.append(T.StructField(k, dtype, True))
        return T.StructType(fields)

    def read(self, key_types: dict[str, T.DataType] | None = None) -> DataFrame:
        """Uploaded keys still inside the retention window; missing table →
        typed empty frame (reference file_data_source.py:127-138).

        When the table is date-partitioned (our writer always partitions),
        the retention predicate on ``dt`` prunes whole partitions at plan
        time — at scale only ~15 daily partitions are ever scanned,
        mirroring the reference's BigQuery partition_expiration_days=15.
        """
        if not self._exists():
            return self.spark.createDataFrame([], self.schema(key_types))
        df = self.spark.read.parquet(self.path)
        if "dt" in df.columns:
            df = df.where(
                F.col("dt") >= F.date_sub(F.current_date(), RETENTION_DAYS)
            ).drop("dt")
        return df.where(
            F.col("timestamp") >= F.date_sub(F.current_timestamp(), RETENTION_DAYS)
        )

    def append(self, success_keys: DataFrame) -> None:
        """Record uploaded keys (reference
        transactional_events_results_writer.py:29-78 + D5/D11). Input must
        contain exactly the dedup key columns. Written date-partitioned so
        retention reads prune (see read())."""
        (
            success_keys.select(*self.keys)
            .withColumn("timestamp", F.current_timestamp())
            .withColumn("dt", F.to_date(F.col("timestamp")))
            .select("timestamp", "dt", *self.keys)
            .write.mode("append")
            .partitionBy("dt")
            .parquet(self.path)
        )

    def vacuum(self) -> list[str]:
        """Reclaim storage for partitions the retention window can never
        read again (reference: BigQuery partition_expiration_days=15 does
        this server-side, big_query_data_source.py:125-139; for the FILE
        control table the reference only filters at read time and the
        files accrete forever). Deletes ``dt`` partitions strictly older
        than the retention window; read() semantics are unchanged because
        those partitions were already filtered out."""
        from datetime import date, timedelta

        from megalista_spark.operators.backfill import expire_partitions

        cutoff = (date.today() - timedelta(days=RETENTION_DAYS)).isoformat()
        return expire_partitions(self.spark, self.path, cutoff)

    def _exists(self) -> bool:
        # Hadoop FileSystem, so URI paths (file://, hdfs://, s3a://, gs://)
        # resolve too; an empty directory counts as missing
        sc = self.spark.sparkContext
        path = sc._jvm.org.apache.hadoop.fs.Path(self.path)
        fs = path.getFileSystem(sc._jsc.hadoopConfiguration())
        return fs.exists(path) and len(fs.listStatus(path)) > 0


class DataSource:
    """Base: read a source table, drop already-uploaded rows, record keys."""

    def __init__(self, spark: SparkSession, source: Source):
        self.spark = spark
        self.source = source

    def read_raw(self) -> DataFrame:
        raise NotImplementedError

    def control_table(self, transactional_type: TransactionalType) -> ControlTable:
        return ControlTable(
            self.spark,
            self.control_path(),
            keys=transactional_type.keys,
        )

    def control_path(self) -> str:
        return f"{self.source.path}_uploaded"

    def retrieve_data(
        self,
        schema: DestinationSchema | None = None,
        transactional_type: TransactionalType = TransactionalType.NOT_TRANSACTIONAL,
        raw: DataFrame | None = None,
    ) -> DataFrame:
        """validate/project/cast then anti-join dedup — the reference's D2/D3.

        ``raw`` is a scan of the source the caller already holds (the
        pipeline shares one per source). The select is applied BEFORE the
        join so column pruning reaches the scan and the anti-join only
        shuffles the projected columns.
        """
        df = self.read_raw() if raw is None else raw
        if schema is not None:
            df = schema.apply(df)
        if transactional_type != TransactionalType.NOT_TRANSACTIONAL:
            df = anti_join_uploaded(
                df, self.control_table(transactional_type).read(), transactional_type
            )
        return df

    def record_uploaded(
        self, transactional_type: TransactionalType, uploaded: DataFrame
    ) -> list[str]:
        """Append the keys of ``uploaded`` to the control table (reference
        transactional_events_results_writer.py:29-78); returns errors."""
        self.control_table(transactional_type).append(
            uploaded.select(*transactional_type.keys)
        )
        return []


def anti_join_uploaded(
    df: DataFrame, uploaded: DataFrame, transactional_type: TransactionalType
) -> DataFrame:
    """LEFT ANTI equi-join on the transactional key — the single most
    important relational op in the system (reference SQL templates at
    big_query_data_source.py:89-100).

    Key columns are compared as strings (the reference's control tables
    store string keys). AQE broadcasts the uploaded side when small.
    """
    keys = list(transactional_type.keys)
    right = uploaded.select(
        *[F.col(k).cast("string").alias(k) for k in keys]
    ).dropDuplicates(keys)
    cond = None
    for k in keys:
        c = df[k].cast("string").eqNullSafe(right[k])
        cond = c if cond is None else (cond & c)
    return df.join(right, cond, "left_anti")


class FileDataSource(DataSource):
    """CSV / Parquet / JSON file source (reference file_data_source.py).

    CSV is read header=true all-string (the reference reads dtype='string'
    then casts declared types — our schema.apply does the cast).
    """

    def read_raw(self) -> DataFrame:
        fmt = self.source.file_format
        path = self.source.path
        if fmt == "csv":
            return self.spark.read.option("header", "true").csv(path)
        if fmt == "json":
            return self.spark.read.json(path)
        if fmt == "orc":
            return self.spark.read.orc(path)
        if fmt == "text":
            # raw-text corpus ingestion: one row per line, column `value`
            # — the entry point of the documents pipeline (quality gate →
            # dedup → tokenizer training) for plain-text dumps
            return self.spark.read.text(path)
        if fmt == "binary":
            # opaque media ingestion (images/audio/video) for the
            # multimodal kernels: (path, modificationTime, length,
            # content binary); recursive so a media tree loads whole
            return (
                self.spark.read.format("binaryFile")
                .option("recursiveFileLookup", "true")
                .load(path)
            )
        return self.spark.read.parquet(path)

    def control_path(self) -> str:
        base = self.source.path
        root, ext = os.path.splitext(base)
        return f"{root}_uploaded"


def get_data_source(
    spark: SparkSession, source: Source, ops_dataset: str = ""
) -> DataSource:
    """Factory (reference data_sources/data_source.py:28-43). BigQuery
    requires the spark-bigquery connector jar; gate behind availability.
    ``ops_dataset`` is ``--bq_ops_dataset``; FILE sources ignore it."""
    if source.source_type == SourceType.FILE:
        return FileDataSource(spark, source)
    if source.source_type == SourceType.BIG_QUERY:
        return BigQueryDataSource(spark, source, ops_dataset)
    raise ValueError(f"unknown source type {source.source_type}")


class BigQueryDataSource(DataSource):
    """BigQuery source via the spark-bigquery connector.

    The reference reads via the google-cloud-bigquery client with paged
    streaming (big_query_data_source.py:33,68); Spark's connector
    partitions reads over the BQ Storage API instead, and pushes
    projection/filters server-side. The jar is not bundled in this
    environment, so the read raises a clear error if absent.

    The ops dataset selects how a transactional source deduplicates:
    - with an ``ops_dataset`` (the reference requires one): BigQuery-native
      dedup, big_query_data_source.py:76-176 — control DDL with 15-day
      partition expiry runs in BQ, the dedup LEFT JOIN ships to the
      connector as a ``query`` option, and accepted keys go back with
      ``insert_rows`` (sources/bigquery_control.py)
    - without one: connector table read + Spark-side broadcast anti-join
      against the parquet ControlTable
    """

    def __init__(
        self,
        spark: SparkSession,
        source: Source,
        ops_dataset: str = "",
        bq_client: "Any | None" = None,
    ):
        super().__init__(spark, source)
        self.ops_dataset = ops_dataset
        self.bq_client = bq_client

    def _native_dedup(self, txn: TransactionalType) -> bool:
        return bool(self.ops_dataset) and txn != TransactionalType.NOT_TRANSACTIONAL

    def bq_control_table(self, transactional_type: TransactionalType):
        if self.bq_client is None:
            self.bq_client = bigquery_control.bigquery_client()
        return bigquery_control.BigQueryControlTable(
            self.bq_client, self.source.metadata, self.ops_dataset,
            transactional_type,
        )

    def connector_options(
        self,
        transactional_type: TransactionalType = TransactionalType.NOT_TRANSACTIONAL,
        cols: "list[str] | None" = None,
    ) -> dict[str, str]:
        """The exact spark-bigquery options a read will use — pure, so the
        contract is testable without the jar. Query-mode reads need
        viewsEnabled + a materialization dataset (connector contract)."""
        if self._native_dedup(transactional_type):
            return {
                "query": self.bq_control_table(transactional_type).dedup_sql(
                    cols or ["*"]
                ),
                "viewsEnabled": "true",
                "materializationDataset": self.ops_dataset,
            }
        return {"table": self.source.path}

    def read_raw(
        self,
        transactional_type: TransactionalType = TransactionalType.NOT_TRANSACTIONAL,
        cols: "list[str] | None" = None,
    ) -> DataFrame:
        try:
            reader = self.spark.read.format("bigquery")
            for k, v in self.connector_options(transactional_type, cols).items():
                reader = reader.option(k, v)
            return reader.load()
        except Exception as exc:  # connector jar missing in local env
            raise RuntimeError(
                "BigQuery connector not available in this environment; "
                "use a FILE source or add the spark-bigquery jar"
            ) from exc

    def retrieve_data(
        self,
        schema: "DestinationSchema | None" = None,
        transactional_type: TransactionalType = TransactionalType.NOT_TRANSACTIONAL,
        raw: DataFrame | None = None,
    ) -> DataFrame:
        """BQ-native dedup (reference big_query_data_source.py:76-148):
        with an ops dataset the anti-join LEFT JOIN ships INSIDE the
        connector ``query`` option, so BigQuery filters already-uploaded
        rows server-side and only the remainder crosses the Storage API —
        the shared table scan ``raw`` does not apply and no Spark-side
        anti-join runs. Without one, the base scan + Spark anti-join."""
        if not self._native_dedup(transactional_type):
            return super().retrieve_data(schema, transactional_type, raw)
        # the pushed LEFT JOIN references the control table — create it
        # (idempotent DDL with 15-day expiry) BEFORE the read, or the
        # first run fails with table-not-found (reference
        # big_query_data_source.py:119-127 ensures before querying)
        self.bq_control_table(transactional_type).ensure_exists()
        # push literal column names server-side only when the whole
        # contract is literal — regex patterns resolve against the actual
        # table columns, which only the scan knows
        cols = None
        if schema is not None and all(not s.is_pattern for s in schema.columns):
            cols = [s.name for s in schema.columns]
        df = self.read_raw(transactional_type, cols)
        return schema.apply(df) if schema is not None else df

    def record_uploaded(
        self, transactional_type: TransactionalType, uploaded: DataFrame
    ) -> list[str]:
        """With an ops dataset the keys go to BigQuery in ``insert_rows``
        pages (reference big_query_data_source.py:153-176)."""
        if not self._native_dedup(transactional_type):
            return super().record_uploaded(transactional_type, uploaded)
        rows = [r.asDict() for r in uploaded.select(*transactional_type.keys).collect()]
        errors = self.bq_control_table(transactional_type).append(rows)
        return [f"control table insert failed: {e}" for e in errors]


def read_evolving_parquet(
    spark: SparkSession,
    path: str,
    target_schema: "StructType | None" = None,
):
    """Schema-evolution-tolerant parquet read — the ingest reality of a
    long-lived 100 TB table: files written months apart carry different
    column sets (added fields) and widened primitive types.

    With a ``target_schema`` (the table contract), the scan reads with
    that EXPLICIT schema: columns absent from old files surface as typed
    NULLs, columns a file has that the contract lacks are pruned at the
    reader (never deserialized), and narrower on-disk primitives (INT32
    under a BIGINT contract, FLOAT under DOUBLE) widen in the vectorized
    reader — Spark 4 type widening. One scan, no footer-merge pass, and
    downstream code (the schema registry's projection/validation, sinks)
    sees one stable shape regardless of file vintage. Note
    ``mergeSchema=true`` (the no-contract fallback below) REFUSES
    type-widened file sets (CANNOT_MERGE_SCHEMAS) — the contract form is
    the robust one, which is why sources should carry declared schemas.

    The reference has no analogue (its BQ source delegates evolution to
    BigQuery); this is the file-lake counterpart of that guarantee.
    """
    if target_schema is None:
        return spark.read.option("mergeSchema", "true").parquet(path)
    return spark.read.schema(target_schema).parquet(path)

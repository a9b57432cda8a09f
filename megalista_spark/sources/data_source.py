"""Data-plane sources: file readers + control ("uploaded") tables.

Reference behaviors re-expressed Spark-first:

- factory dispatch (data_sources/data_source.py:28-43)
- CSV read all-string then cast / Parquet columns pushdown
  (file_data_source.py:182-216) → plain ``spark.read`` with select —
  Catalyst prunes columns down to the scan
- transactional dedup of a FILE source = LEFT ANTI join against its
  parquet control table (file_data_source.py:71-92); a BigQuery source
  dedups inside BigQuery (``BigQueryDataSource``, sources/bigquery_control.py)
- control table: append-only (timestamp, key...) parquet files, one
  ``dt=<UTC date>/`` directory per day, read with a 15-day retention
  (big_query_data_source.py:118-148, file_data_source.py:141-147); a
  missing control table reads as a typed, optimizer-known empty frame
  (file_data_source.py:127-138); the control side is not deduplicated
- ``ControlTable`` alone knows that layout, and reaches it through
  ``pyarrow.fs.FileSystem.from_uri`` (local paths, ``file://``, ``gs://``,
  ``s3://``; ``s3a://`` maps to ``s3://``), at the path Spark reads, which
  Hadoop qualifies when it has no scheme. ``commit`` is the only writer of
  a ``dt=`` directory; one listing of the table root (``_listing``) tells
  ``read`` which directories retention keeps, so Spark lists only those,
  and tells ``vacuum`` which ones to delete
- recording uploaded keys is part of the upload step (reference
  transactional_events_results_writer.py:29-78): ``key_staging`` gives the
  sink a ``_staging/<uuid>/`` directory under the control table, the upload
  tasks write the keys they got accepted there, one completed file per
  partition, and ``record_uploaded`` commits every completed file in it,
  so no Spark job appends

At 100 TB: the anti-join's control side is usually small relative to the
source (only the last 15 days of uploaded keys) — AQE picks a broadcast
anti-join when it fits; otherwise a shuffled hash join on the dedup key.
No collect()s, no driver-side loops.
"""

from __future__ import annotations

import datetime as dt
import os
import posixpath
import uuid
from dataclasses import dataclass
from typing import Any
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from megalista_spark.models.execution import (
    RETENTION_DAYS,
    Execution,
    Source,
    SourceType,
    TransactionalType,
)
from megalista_spark.schema.registry import DestinationSchema
from megalista_spark.sinks.executor import KeyStaging, SinkResult
from megalista_spark.sources import bigquery_control


def _listing(fs: Any, directory: str) -> tuple[list[tuple[dt.date, str]], list[str]]:
    """One listing of ``directory`` on pyarrow file system ``fs``: its
    ``dt=<date>`` subdirectories with their dates, and its data files, by
    name. Names starting with ``_`` or ``.`` (``_staging/``, ``_SUCCESS``,
    checksums, files still being written) and ``dt=`` directories whose
    date does not parse are skipped; a missing directory lists nothing."""
    from pyarrow.fs import FileSelector, FileType

    partitions, files = [], []
    for info in fs.get_file_info(FileSelector(directory, allow_not_found=True)):
        name = info.base_name
        if name.startswith(("_", ".")):
            continue
        if info.type == FileType.File:
            files.append(name)
        elif info.type == FileType.Directory and name.startswith("dt="):
            try:
                partitions.append((dt.date.fromisoformat(name[3:]), name))
            except ValueError:
                pass
    return partitions, files


@dataclass
class ControlTable:
    """The `<source>_uploaded` sidecar: append-only (timestamp, keys...).

    Parquet files in one ``dt=<UTC date>/`` directory per day (Delta would
    be the production choice; parquet has the same semantics for this
    access pattern — we only ever append and scan with a time filter). The
    pipeline appends by ``staging`` + ``commit`` (files the upload tasks
    wrote); ``append`` writes a DataFrame of keys for direct callers.
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
        """Uploaded keys still inside the retention window, read with
        ``key_types`` (strings when absent), so no schema inference runs.

        One pyarrow listing of the table root picks the ``dt=`` directories
        from the cutoff date on, plus any data file outside a partition,
        and Spark lists and reads only those, so the cost does not grow
        with the table's history and no listing job starts. The rows also
        keep the timestamp predicate of the same UTC cutoff. With nothing
        to read (a missing table, say) the result is a typed,
        optimizer-known empty frame (reference file_data_source.py:127-138),
        so an anti-join against it plans away.
        """
        schema = self.schema(key_types)
        cutoff = self._cutoff()
        _, fs, root = self._filesystem()
        partitions, files = _listing(fs, root)
        kept = [name for day, name in partitions if day >= cutoff] + files
        if not kept:
            return self.spark.createDataFrame([], schema).where(F.lit(False))
        start = dt.datetime.combine(cutoff, dt.time(), dt.timezone.utc)
        return (
            self.spark.read.schema(schema)
            .parquet(*(posixpath.join(self.path, name) for name in kept))
            .where(F.col("timestamp") >= F.lit(start))
        )

    def append(self, success_keys: DataFrame) -> None:
        """Record uploaded keys (reference
        transactional_events_results_writer.py:29-78 + D5/D11) for a caller
        that holds them as a DataFrame with the key columns: one Spark
        write of ``(timestamp, keys...)`` into a ``staging()`` directory,
        then ``commit``, so the files land where the pipeline's upload
        tasks put theirs."""
        staging = self.staging()
        name = posixpath.basename(staging.directory)
        (
            success_keys.select(F.lit(staging.timestamp).alias("timestamp"), *self.keys)
            .write.parquet(posixpath.join(self.path, "_staging", name))
        )
        self.commit(staging)

    def staging(self) -> KeyStaging:
        """Where one upload stages the keys it gets accepted:
        ``_staging/<uuid>/`` under the table, with the timestamp of this
        append. Fails, naming the table, when pyarrow cannot open it."""
        location, _, _ = self._filesystem()
        return KeyStaging(
            f"{location}/_staging/{uuid.uuid4().hex}", self.keys, dt.datetime.now(dt.timezone.utc)
        )

    def commit(self, staging: KeyStaging) -> None:
        """Move every completed file in ``staging`` (each file ``_listing``
        keeps) into the ``dt=`` partition of the staging timestamp's UTC
        date, then delete the staging directory with the rest (partial files
        of failed task attempts). With no completed file nothing is written,
        so an absent table stays absent."""
        fs, path = staging.filesystem()
        files = _listing(fs, path)[1]
        if files:
            table = posixpath.dirname(posixpath.dirname(path))  # <table>/_staging/<uuid>
            partition = f"{table}/dt={staging.timestamp.date().isoformat()}"
            fs.create_dir(partition, recursive=True)
            for name in files:
                fs.move(f"{path}/{name}", f"{partition}/{name}")
        staging.discard()

    def vacuum(self) -> list[str]:
        """Delete the ``dt=`` partitions older than ``read``'s cutoff, which
        it no longer reads, and return their dates (reference: BigQuery's
        partition_expiration_days=15 does this server-side,
        big_query_data_source.py:125-139; for the FILE control table the
        reference only filters at read time and the files accrete
        forever)."""
        cutoff = self._cutoff()
        _, fs, root = self._filesystem()
        expired = sorted(p for p in _listing(fs, root)[0] if p[0] < cutoff)
        for _, name in expired:
            fs.delete_dir(posixpath.join(root, name))
        return [day.isoformat() for day, _ in expired]

    @staticmethod
    def _cutoff() -> dt.date:
        """The oldest UTC date inside retention."""
        return dt.datetime.now(dt.timezone.utc).date() - dt.timedelta(days=RETENTION_DAYS)

    def _filesystem(self) -> tuple[str, Any, str]:
        """The table's location as pyarrow opens it, its pyarrow file system
        and its path there. Fails, naming the table, when pyarrow cannot
        open it or it is a file."""
        from pyarrow import ArrowException
        from pyarrow.fs import FileSystem, FileType

        location = self._arrow_location()
        try:
            fs, path = FileSystem.from_uri(location)
            if fs.get_file_info(path).type == FileType.File:
                raise NotADirectoryError(path)
        except (OSError, ArrowException) as exc:
            raise ValueError(
                f"control table {self.path}: pyarrow cannot open {location}: {exc}"
            ) from exc
        return location, fs, path

    def _arrow_location(self) -> str:
        """The table's path as ``pyarrow.fs.FileSystem.from_uri`` takes it:
        one without a scheme is qualified against Hadoop's default file
        system, as Spark reads it; a local one becomes a plain path and
        ``s3a://`` becomes ``s3://``."""
        path = self.path
        if not urlsplit(path).scheme:
            jvm = self.spark.sparkContext._jvm
            conf = self.spark.sparkContext._jsc.hadoopConfiguration()
            hpath = jvm.org.apache.hadoop.fs.Path(path)
            path = jvm.org.apache.hadoop.fs.FileSystem.get(conf).makeQualified(hpath).toString()
        parts = urlsplit(path)
        if parts.scheme == "file":
            return parts.path
        if parts.scheme == "s3a":
            return "s3" + path[len("s3a"):]
        return path


class DataSource:
    """Base: read a source table and project it to a destination's schema.
    Each source type drops the rows a transactional branch already uploaded
    (``retrieve_data``) and records the keys it uploads (``key_staging``,
    ``record_uploaded``) in its own control table."""

    def __init__(self, spark: SparkSession, source: Source):
        self.spark = spark
        self.source = source

    def read_raw(self) -> DataFrame:
        raise NotImplementedError

    def uses_scan(self, transactional_type: TransactionalType) -> bool:
        """Whether a branch of this type plans from the plain scan
        ``read_raw()``, which ``retrieve_data`` takes as ``raw``."""
        return True

    def retrieve_data(
        self,
        schema: DestinationSchema | None = None,
        transactional_type: TransactionalType = TransactionalType.NOT_TRANSACTIONAL,
        raw: DataFrame | None = None,
    ) -> DataFrame:
        """validate/project/cast — the reference's D2 — of a
        non-transactional branch (subclasses dedup a transactional one).

        ``raw`` is a scan of the source the caller already holds (the
        pipeline shares one per source); the select reaches the scan.
        """
        df = self.read_raw() if raw is None else raw
        return schema.apply(df) if schema is not None else df


def anti_join_uploaded(
    df: DataFrame, uploaded: DataFrame, transactional_type: TransactionalType
) -> DataFrame:
    """LEFT ANTI equi-join on the transactional key — the single most
    important relational op in the system (reference SQL templates at
    big_query_data_source.py:89-100).

    Key columns are compared as strings (the reference's control tables
    store string keys). AQE broadcasts the uploaded side when small; it is
    not deduplicated, as duplicates there change no anti-join result.
    """
    keys = list(transactional_type.keys)
    right = uploaded.select(*[F.col(k).cast("string").alias(k) for k in keys])
    cond = None
    for k in keys:
        c = df[k].cast("string").eqNullSafe(right[k])
        cond = c if cond is None else (cond & c)
    return df.join(right, cond, "left_anti")


class FileDataSource(DataSource):
    """CSV / Parquet / JSON file source (reference file_data_source.py).

    CSV is read header=true all-string (the reference reads dtype='string'
    then casts declared types — our schema.apply does the cast). Spark's
    CSV defaults stay: like pandas ``read_csv``, they read an empty field,
    quoted or not, as null.
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

    def control_table(self, transactional_type: TransactionalType) -> ControlTable:
        return ControlTable(self.spark, self.control_path(), keys=transactional_type.keys)

    def retrieve_data(
        self,
        schema: DestinationSchema | None = None,
        transactional_type: TransactionalType = TransactionalType.NOT_TRANSACTIONAL,
        raw: DataFrame | None = None,
    ) -> DataFrame:
        """validate/project/cast, then the anti-join dedup against the
        control table (the reference's D3). The select is applied BEFORE
        the join, so the anti-join only shuffles the projected columns."""
        df = super().retrieve_data(schema, raw=raw)
        if transactional_type != TransactionalType.NOT_TRANSACTIONAL:
            key_types = {k: df.schema[k].dataType for k in transactional_type.keys}
            uploaded = self.control_table(transactional_type).read(key_types)
            df = anti_join_uploaded(df, uploaded, transactional_type)
        return df

    def key_staging(self, transactional_type: TransactionalType) -> KeyStaging | None:
        """Where the upload of a ``transactional_type`` branch stages its
        accepted keys (None for a non-transactional one). Called before the
        upload, so a control table pyarrow cannot open fails the branch
        before any row is sent."""
        if transactional_type == TransactionalType.NOT_TRANSACTIONAL:
            return None
        return self.control_table(transactional_type).staging()

    def record_uploaded(
        self, transactional_type: TransactionalType, outcome: SinkResult
    ) -> list[str]:
        """Commit the keys the upload staged (``outcome`` of a sink run given
        ``key_staging(transactional_type)``) to the control table (reference
        transactional_events_results_writer.py:29-78); returns errors."""
        self.control_table(transactional_type).commit(outcome.staging)
        return []


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

    A transactional source dedups inside BigQuery, as the reference does
    (big_query_data_source.py:76-176), and needs an ops dataset
    (``--bq_ops_dataset``) for its control table: the control DDL with
    15-day partition expiry runs in BQ, the dedup LEFT JOIN ships to the
    connector as a ``query`` option, and accepted keys go back with
    ``insert_rows`` (sources/bigquery_control.py). Without an ops dataset a
    transactional branch fails before anything is read or sent.
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

    def bq_control_table(self, transactional_type: TransactionalType):
        """Fails, naming ``bq_ops_dataset``, before a client is built when
        there is no ops dataset."""
        bigquery_control.require_ops_dataset(self.ops_dataset)
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
        if transactional_type == TransactionalType.NOT_TRANSACTIONAL:
            return {"table": self.source.path}
        return {
            "query": self.bq_control_table(transactional_type).dedup_sql(cols or ["*"]),
            "viewsEnabled": "true",
            "materializationDataset": self.ops_dataset,
        }

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

    def uses_scan(self, transactional_type: TransactionalType) -> bool:
        """A transactional branch reads through the dedup ``query`` instead."""
        return transactional_type == TransactionalType.NOT_TRANSACTIONAL

    def retrieve_data(
        self,
        schema: "DestinationSchema | None" = None,
        transactional_type: TransactionalType = TransactionalType.NOT_TRANSACTIONAL,
        raw: DataFrame | None = None,
    ) -> DataFrame:
        """BQ-native dedup (reference big_query_data_source.py:76-148): the
        anti-join LEFT JOIN ships INSIDE the connector ``query`` option, so
        BigQuery filters already-uploaded rows server-side and only the
        remainder crosses the Storage API — the shared table scan ``raw``
        does not apply and no Spark-side anti-join runs."""
        if transactional_type == TransactionalType.NOT_TRANSACTIONAL:
            return super().retrieve_data(schema, raw=raw)
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

    def key_staging(self, transactional_type: TransactionalType) -> None:
        """Nothing is staged: ``record_uploaded`` inserts the accepted keys.
        Called before the upload, so a transactional branch without an ops
        dataset fails before anything is read or sent (the reference
        refuses it, big_query_data_source.py:48-52)."""
        if transactional_type != TransactionalType.NOT_TRANSACTIONAL:
            bigquery_control.require_ops_dataset(self.ops_dataset)

    def record_uploaded(
        self, transactional_type: TransactionalType, outcome: SinkResult
    ) -> list[str]:
        """The accepted keys go to BigQuery in ``insert_rows`` pages
        (reference big_query_data_source.py:153-176)."""
        if outcome.accepted == 0:
            return []
        rows = [r.asDict() for r in outcome.success.select(*transactional_type.keys).collect()]
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

"""The generic sink executor — the one genuinely custom physical operator.

Reference behaviors folded in (SURVEY §4 "custom pieces"):
- fixed-size chunking per partition (reference _BatchElements,
  batches_from_executions.py:113-131) with 1-based ``iteration`` —
  deterministic chunk index within a partition
- per-destination batch sizes (processing_steps.py:100-558; BATCH_SIZES)
- retry ≤ 3 with backoff (uploaders/utils.py:27,91-104; ``transports.retry``)
- client-per-partition lifecycle with open/close hooks (the reference's
  per-worker caches + finish_bundle deferred jobs,
  abstract_uploader.py:43-56): the transport is pickled before
  ``before_run``, so each task starts from the transport ``run`` received
- client-side rate limiting (appsflyer_s2s_uploader_async.py:131-139):
  a destination's budget is split evenly across its upload tasks, and a
  chunk of n rows takes at least n / per-task rate seconds
- per-batch error isolation: a failing chunk records an error and the
  partition continues (safe_process, uploaders/utils.py:69-88)
- partial-failure success semantics: the accepted rows stay a DataFrame
  (``SinkResult.success``), so downstream stays relational (J3)
- the upload step persists the keys it got accepted (reference
  transactional_events_results_writer.py:29-78): given a ``KeyStaging``,
  each upload task attempt streams the key columns of its accepted rows,
  with the driver's timestamp, to a dot-prefixed parquet file of its own,
  and once it has sent every chunk renames it to its partition's one key
  file name for the run. The staging directory then holds, per partition,
  the file of the last attempt that sent every chunk and got any row
  accepted; the caller commits every completed file in it
  (``ControlTable.commit``)

Scale design: the upload is a collect-free ``mapInArrow`` pass — each
partition's Arrow batches are cut into chunks, the transport gets each
chunk as row dicts (``RecordBatch.to_pylist``), and the chunk goes back
as Arrow with a status and an error column appended; row values are never
rebuilt in Python, and the appended columns, the staged keys and their
timestamp are built from buffers (building them from Python lists imports
pandas into the upload worker). Parallelism is bounded by `repartition(n)`
before calling run() (API quota control), not by driver-side loops.
``run`` caches the tagged rows and fills the cache with one observed no-op
write, so one job uploads, stages and counts; the success rows and the
error records are views of that cache, and ``SinkResult.release`` frees it.
"""

from __future__ import annotations

import datetime as dt
import pickle
import struct
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator

from pyspark import cloudpickle
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from megalista_spark.models.execution import DestinationType
from megalista_spark.sinks.transports import Transport, retry
from megalista_spark.zip_imports import install_stamped_zipimporter

# Per-destination upload batch sizes (reference processing_steps.py +
# third_party/steps.py:31; default batches_from_executions.py:147).
DEFAULT_BATCH_SIZE = 5000
BATCH_SIZES: dict[DestinationType, int] = {
    DestinationType.ADS_OFFLINE_CONVERSION: 2000,
    DestinationType.ADS_OFFLINE_CONVERSION_ADJUSTMENT_GCLID: 2000,
    DestinationType.ADS_OFFLINE_CONVERSION_ADJUSTMENT_ORDER_ID: 2000,
    DestinationType.ADS_OFFLINE_CONVERSION_CALLS: 2000,
    DestinationType.ADS_ENHANCED_CONVERSION_LEADS: 2000,
    DestinationType.ADS_SSD_UPLOAD: 5000,
    DestinationType.ADS_SSI_UPLOAD: 5000,
    DestinationType.ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD: 5000,
    DestinationType.ADS_CUSTOMER_MATCH_MOBILE_DEVICE_ID_UPLOAD: 5000,
    DestinationType.ADS_CUSTOMER_MATCH_USER_ID_UPLOAD: 5000,
    DestinationType.DV_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD: 5000,
    DestinationType.DV_CUSTOMER_MATCH_DEVICE_ID_UPLOAD: 5000,
    DestinationType.GA_USER_LIST_UPLOAD: 5_000_000,
    DestinationType.GA_DATA_IMPORT: 1_000_000,
    DestinationType.GA_MEASUREMENT_PROTOCOL: 20,
    DestinationType.GA_4_MEASUREMENT_PROTOCOL: 20,
    DestinationType.CM_OFFLINE_CONVERSION: 1000,
    DestinationType.APPSFLYER_S2S_EVENTS: 1000,
}

# Events/second budget per destination, for all its upload tasks together.
RATE_LIMITS: dict[DestinationType, float] = {
    # reference appsflyer_s2s_uploader_async.py:137
    DestinationType.APPSFLYER_S2S_EVENTS: 500.0,
}

_STATUS_COL = "__megalista_status"
_ERROR_COL = "__megalista_error"
_OK, _REJECTED, _FAILED = 0, 1, 2  # values of the status column
# local property carrying the number of upload tasks that run at once to
# the pacer inside each task; it is known only once the upload is planned
_UPLOAD_TASKS = "megalista.sink.uploadTasks"


def _row_converter(dtype: T.DataType) -> Callable[[Any], Any] | None:
    """Maps a non-null value from ``RecordBatch.to_pylist`` to the value
    ``Row.asDict(recursive=True)`` gives; None where the two already agree.
    Arrow gives tz-aware datetimes and maps as pair lists; rows give naive
    local datetimes and dicts. Binary is ``bytes`` in both (Spark's default
    ``spark.sql.execution.pyspark.binaryAsBytes``)."""
    if isinstance(dtype, T.TimestampType):
        return lambda v: v.astimezone().replace(tzinfo=None)
    if isinstance(dtype, T.ArrayType):
        conv = _row_converter(dtype.elementType)
        if conv is None:
            return None
        return lambda v: [None if x is None else conv(x) for x in v]
    if isinstance(dtype, T.MapType):
        kc = _row_converter(dtype.keyType) or (lambda k: k)
        vc = _row_converter(dtype.valueType) or (lambda x: x)
        return lambda v: {kc(k): None if x is None else vc(x) for k, x in v}
    if isinstance(dtype, T.StructType):
        convs = _field_converters(dtype)
        if not convs:
            return None

        def convert_struct(v: dict) -> dict:
            for name, conv in convs:
                if v[name] is not None:
                    v[name] = conv(v[name])
            return v

        return convert_struct
    return None


def _field_converters(schema: T.StructType) -> list[tuple[str, Callable[[Any], Any]]]:
    return [(f.name, c) for f in schema.fields if (c := _row_converter(f.dataType))]


def _chunks(batches: Iterator[Any], size: int) -> Iterator[Any]:
    """Arrow tables of ``size`` rows (the last one shorter), cut across the
    boundaries of the incoming record batches."""
    import pyarrow as pa

    pending: list = []
    n = 0
    for batch in batches:
        start = 0
        while start < batch.num_rows:
            take = min(size - n, batch.num_rows - start)
            pending.append(batch.slice(start, take))
            n += take
            start += take
            if n == size:
                yield pa.Table.from_batches(pending)
                pending, n = [], 0
    if n:
        yield pa.Table.from_batches(pending)


def _accepted_mask(chunk: list[dict], accepted: list[dict]) -> list[bool]:
    """Which rows of ``chunk`` the transport accepted. ``Transport.send``
    returns a subset of the dict objects it was sent, so rows match by
    identity; a dict it was not sent breaks that contract."""
    accepted_ids = {id(d) for d in accepted}
    if not accepted_ids <= {id(d) for d in chunk}:
        raise ValueError(
            "Transport.send returned a row dict it was not sent; it must "
            "return a subset of the dicts in its payload, not copies"
        )
    return [id(d) in accepted_ids for d in chunk]


@dataclass(frozen=True)
class KeyStaging:
    """Where the upload tasks of one run stage the keys of their accepted
    rows: ``directory`` is a path or URI that
    ``pyarrow.fs.FileSystem.from_uri`` opens, ``keys`` are the key columns,
    and ``timestamp`` (UTC, fixed before the upload) is the value of every
    staged row's ``timestamp`` column."""

    directory: str
    keys: tuple[str, ...]
    timestamp: dt.datetime

    def filesystem(self) -> tuple[Any, str]:
        from pyarrow.fs import FileSystem

        return FileSystem.from_uri(self.directory)

    def discard(self) -> None:
        """Delete the staging directory with every file in it."""
        from pyarrow.fs import FileType

        fs, path = self.filesystem()
        if fs.get_file_info(path).type != FileType.NotFound:
            fs.delete_dir(path)


class _StagedKeys:
    """One task attempt's staged keys: the key columns of its accepted rows
    and the staging timestamp, streamed to ``.<stem>-<attempt>.parquet`` in
    the staging directory and renamed to ``<stem>.parquet`` once the attempt
    has sent every chunk. ``stem`` names the partition and the run, so every
    attempt of a partition completes the same file: a retry that got rows
    accepted replaces the failed attempt's file, and of two speculative
    duplicates that both finish, the later rename replaces the earlier
    file. An attempt with no accepted rows writes nothing and leaves an
    earlier attempt's file in place."""

    def __init__(self, staging: KeyStaging, stem: str, attempt: int):
        import pyarrow as pa

        self.staging = staging
        self.partial = f".{stem}-{attempt}.parquet"
        self.name = f"{stem}.parquet"
        epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
        self.micros = struct.pack("<q", (staging.timestamp - epoch) // dt.timedelta(microseconds=1))
        self.ok = pa.Array.from_buffers(pa.int8(), 1, [None, pa.py_buffer(bytes([_OK]))])[0]
        self.writer: Any = None

    def add(self, chunk: Any, status: Any) -> None:
        """Stage the keys of ``chunk``'s accepted rows."""
        import pyarrow as pa
        import pyarrow.compute as pc

        keys = chunk.select(list(self.staging.keys)).filter(pc.equal(status, self.ok))
        if keys.num_rows == 0:
            return
        stamp = pa.Array.from_buffers(
            pa.timestamp("us", "UTC"), keys.num_rows, [None, pa.py_buffer(self.micros * keys.num_rows)]
        )
        keys = keys.add_column(0, "timestamp", stamp)
        if self.writer is None:
            import pyarrow.parquet as pq

            self.fs, self.dir = self.staging.filesystem()
            self.fs.create_dir(self.dir, recursive=True)
            self.writer = pq.ParquetWriter(f"{self.dir}/{self.partial}", keys.schema, filesystem=self.fs)
        self.writer.write_table(keys)

    def finish(self) -> None:
        """Complete the file, if anything was staged, replacing the one an
        earlier attempt completed."""
        if self.writer is not None:
            self.writer.close()
            self.fs.move(f"{self.dir}/{self.partial}", f"{self.dir}/{self.name}")


@dataclass
class SinkResult:
    """Outcome of one sink run: the counts the upload observed, the
    ``staging`` its tasks wrote their key files to, and the cached upload,
    of which ``success`` and ``errors`` are views built on access. The
    counts, ``accepted`` too, come from the one successful attempt per
    partition; where that attempt got nothing accepted, ``staging`` may
    hold an earlier, failed attempt's keys."""

    tagged: DataFrame
    rows: int = 0  # rows that entered the sink
    accepted: int = 0
    error_messages: list[str] = field(default_factory=list)
    staging: KeyStaging | None = None
    destination: str = ""

    @property
    def success(self) -> DataFrame:
        """The accepted rows, with the input schema."""
        return self.tagged.where(F.col(_STATUS_COL) == _OK).drop(_STATUS_COL, _ERROR_COL)

    @property
    def errors(self) -> DataFrame:
        """(destination, message), one record per failed chunk."""
        return self.tagged.where(F.col(_ERROR_COL).isNotNull()).select(
            F.lit(self.destination).alias("destination"),
            F.col(_ERROR_COL).alias("message"),
        )

    def release(self) -> None:
        """Unpersist the cached upload; ``success``/``errors`` must not be
        read afterwards (reading them would upload again)."""
        self.tagged.unpersist()


class SinkExecutor:
    """Runs a transport over a DataFrame in fixed-size chunks per partition."""

    def __init__(
        self,
        transport: Transport,
        batch_size: int = DEFAULT_BATCH_SIZE,
        rate_limit_per_sec: float | None = None,
        context: dict[str, Any] | None = None,
    ):
        self.transport = transport
        self.batch_size = batch_size
        self.rate_limit_per_sec = rate_limit_per_sec
        self.context = context or {}

    @classmethod
    def for_destination(
        cls, transport: Transport, destination_type: DestinationType, **kw: Any
    ) -> "SinkExecutor":
        kw.setdefault("batch_size", BATCH_SIZES.get(destination_type, DEFAULT_BATCH_SIZE))
        kw.setdefault("rate_limit_per_sec", RATE_LIMITS.get(destination_type))
        kw.setdefault("context", {"destination_type": destination_type.value})
        return cls(transport, **kw)

    def run(self, df: DataFrame, staging: KeyStaging | None = None) -> SinkResult:
        """One action, an observed no-op write: upload (staging the accepted
        keys when ``staging`` is given), then return the row, accepted and
        error counts. A failed upload discards the staging directory. Call
        ``release()`` when done with the result.
        """
        # the tasks get the transport as run() received it: pickled before
        # before_run, so what before_run builds stays on the driver
        shipped = cloudpickle.dumps(self.transport)
        # run-level preparation (e.g. GA data-import erase, customer-match
        # REPLACE remove_all) happens exactly once, before any upload
        self.transport.before_run(dict(self.context))

        batch_size = self.batch_size
        budget = self.rate_limit_per_sec or 0
        base_context = dict(self.context)
        sc = df.sparkSession.sparkContext
        slots = sc.defaultParallelism
        converters = _field_converters(df.schema)
        run_id = uuid.uuid4().hex
        out_schema = T.StructType(
            list(df.schema.fields)
            + [
                T.StructField(_STATUS_COL, T.ByteType(), False),
                T.StructField(_ERROR_COL, T.StringType(), True),
            ]
        )

        def upload(batches: Iterator[Any]) -> Iterator[Any]:
            install_stamped_zipimporter()
            import pyarrow as pa
            from pyspark import TaskContext

            tc = TaskContext.get()
            ctx = dict(base_context)
            ctx["partition_id"] = tc.partitionId() if tc else -1
            # the destination's budget is shared by the upload tasks that
            # run at once (all task slots if the count was not passed)
            running = (tc and tc.getLocalProperty(_UPLOAD_TASKS)) or slots
            task_rate = budget / max(int(running), 1)
            key_file = None
            if staging is not None:
                attempt = tc.taskAttemptId() if tc else 0
                key_file = _StagedKeys(staging, f"part-{ctx['partition_id']:05d}-{run_id}", attempt)
            transport = pickle.loads(shipped)
            transport.open(ctx)
            try:
                # each chunk goes out at once
                for chunk_index, table in enumerate(_chunks(batches, batch_size), 1):
                    ctx["chunk_index"] = chunk_index
                    ctx["iteration"] = chunk_index  # reference Batch.iteration
                    rows = table.to_pylist()
                    for name, conv in converters:
                        for d in rows:
                            if d[name] is not None:
                                d[name] = conv(d[name])
                    started = time.monotonic()
                    # the status column and the null error column come from
                    # buffers: pa.array over Python lists imports pandas into
                    # the upload worker (about 40 MB), so only a failed
                    # chunk pays that
                    try:
                        accepted = retry(lambda: transport.send(rows, ctx))
                        mask = _accepted_mask(rows, accepted)
                    except Exception as exc:  # error isolation: chunk-level
                        # whole chunk failed after retries, or its reply
                        # broke the send contract → one error record, on
                        # the chunk's first row
                        status = bytes([_FAILED]) * len(rows)
                        err = (
                            f"{type(exc).__name__}: {exc} (partition "
                            f"{ctx['partition_id']}, chunk {chunk_index}, {len(rows)} rows)"
                        )
                        errors = pa.array([err] + [None] * (len(rows) - 1), pa.string())
                    else:
                        status = bytes(_OK if ok else _REJECTED for ok in mask)
                        errors = pa.nulls(len(rows), pa.string())
                    if task_rate:  # post-batch floor (reference :131-136)
                        done_at = started + len(rows) / task_rate
                        time.sleep(max(0.0, done_at - time.monotonic()))
                    status = pa.Array.from_buffers(
                        pa.int8(), len(rows), [None, pa.py_buffer(status)]
                    )
                    if key_file is not None:
                        key_file.add(table, status)
                    yield from (
                        table.append_column(_STATUS_COL, status)
                        .append_column(_ERROR_COL, errors)
                        .to_batches()
                    )
                if key_file is not None:
                    key_file.finish()
            finally:
                transport.close(ctx)

        tagged = df.mapInArrow(upload, out_schema).cache()
        status = F.col(_STATUS_COL)
        try:
            if budget:
                # plans the cached upload (running any stage before it)
                # without running it, so the write adds no job. The JVM
                # Dataset.rdd, not DataFrame.rdd: the Python path plans
                # without the session's SQL conf, and its upload workers
                # would start as a second Python worker pool
                partitions = tagged._jdf.rdd().getNumPartitions()
                sc.setLocalProperty(_UPLOAD_TASKS, str(min(partitions, slots)))
            # the one action: uploads, stages, fills the cache and counts in
            # the result stage, whose metrics Spark applies once per
            # partition, from the attempt that succeeded
            observed = Observation()
            tagged.observe(
                observed,
                F.count(F.lit(1)).alias("rows"),
                F.count(F.when(status == _OK, True)).alias("accepted"),
                F.collect_list(_ERROR_COL).alias("errors"),
            ).write.format("noop").mode("overwrite").save()
            totals = observed.get
        except BaseException:
            tagged.unpersist()
            if staging is not None:
                staging.discard()
            raise
        finally:
            sc.setLocalProperty(_UPLOAD_TASKS, None)
        return SinkResult(
            tagged,
            totals["rows"],
            totals["accepted"],
            list(totals["errors"]),
            staging,
            base_context.get("destination_type", ""),
        )

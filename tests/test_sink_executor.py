"""Sink executor: chunking, retry, partial failure, error isolation."""

from __future__ import annotations

import contextlib
import json
import os
import pickle
import time
import uuid

import pytest

from megalista_spark.models.execution import DestinationType
from megalista_spark.sinks.executor import BATCH_SIZES, SinkExecutor
from megalista_spark.sinks.transports import (
    ConcurrentSendTransport,
    DryRunTransport,
    MockTransport,
    Transport,
)


@pytest.fixture
def released():
    """Wraps a sink result and releases it when the test ends, so no cached
    upload outlives its test."""
    results = []

    def keep(result):
        results.append(result)
        return result

    yield keep
    for result in results:
        result.release()


def test_all_accepted(spark, released):
    df = spark.createDataFrame([(i,) for i in range(100)], ["k"])
    result = released(SinkExecutor(DryRunTransport(), batch_size=7).run(df))
    assert result.success.count() == 100
    assert result.errors.count() == 0


def test_partial_failure_success_filter(spark, released):
    # reference J3: only accepted rows flow onward
    df = spark.createDataFrame([(i,) for i in range(50)], ["k"])
    transport = MockTransport(fail_predicate=lambda r: r["k"] % 5 == 0)
    result = released(SinkExecutor(transport, batch_size=10).run(df))
    ok = sorted(r["k"] for r in result.success.collect())
    assert ok == [i for i in range(50) if i % 5 != 0]


def test_rebuilt_row_dicts_fail_the_chunk(spark):
    # Transport.send returns the dict objects it was sent; rebuilt copies
    # break that contract, so each chunk fails with an error record naming
    # it instead of its rows counting as rejected
    from megalista_spark.sinks.transports import Transport

    class RebuildingTransport(Transport):
        def send(self, payload, context):
            return [dict(r) for r in payload if r["k"] % 5 != 0]

    df = spark.createDataFrame([(i,) for i in range(50)], ["k"]).coalesce(1)
    result = SinkExecutor(RebuildingTransport(), batch_size=10).run(df)
    assert (result.rows, result.accepted) == (50, 0)
    assert len(result.error_messages) == 5  # one per failed chunk
    assert all(
        m.startswith("ValueError: Transport.send returned a row dict it was not sent")
        for m in result.error_messages
    )
    result.release()


def test_concurrent_sender_bounds_inflight():
    import threading
    import time as _time

    from megalista_spark.sinks.transports import ConcurrentSendTransport

    class Probe(ConcurrentSendTransport):
        def __init__(self, **kw):
            super().__init__(**kw)
            self._lock = threading.Lock()
            self._inflight = 0
            self.max_inflight = 0
            self.attempts: dict[int, int] = {}

        def send_one(self, row, context):
            with self._lock:
                self._inflight += 1
                self.max_inflight = max(self.max_inflight, self._inflight)
                self.attempts[row["i"]] = self.attempts.get(row["i"], 0) + 1
                n_attempt = self.attempts[row["i"]]
            try:
                _time.sleep(0.005)
                if row["i"] == 7 and n_attempt == 1:
                    raise RuntimeError("transient")  # retried
                return row["i"] != 13  # 13 rejected, never retried
            finally:
                with self._lock:
                    self._inflight -= 1

    t = Probe(max_concurrency=4)
    rows = [{"i": i} for i in range(40)]
    accepted = t.send(rows, {})
    assert sorted(r["i"] for r in accepted) == [i for i in range(40) if i != 13]
    # in-flight stayed within the bound AND real concurrency happened
    assert 1 < t.max_inflight <= 4
    # exceptions retried, plain rejections not
    assert t.attempts[7] == 2 and t.attempts[13] == 1


def test_retry_then_succeed(spark, released):
    df = spark.createDataFrame([(i,) for i in range(10)], ["k"])
    transport = MockTransport(fail_chunks_until_attempt=2)  # 1st attempt fails
    result = released(SinkExecutor(transport, batch_size=100).run(df.repartition(1)))
    assert result.success.count() == 10
    assert result.errors.count() == 0


def test_exhausted_retries_isolated(spark, released):
    # a chunk failing all retries becomes error records; run continues
    df = spark.createDataFrame([(i,) for i in range(10)], ["k"])
    transport = MockTransport(fail_chunks_until_attempt=99)
    result = released(SinkExecutor(
        transport, batch_size=100,
        context={"destination_type": "TEST"},
    ).run(df.repartition(1)))
    assert result.success.count() == 0
    errs = result.errors.collect()
    assert len(errs) == 1  # one record per failed chunk, naming it
    assert "injected failure" in errs[0]["message"]
    assert errs[0]["message"].endswith("(partition 0, chunk 1, 10 rows)")


def test_batch_sizes_parity():
    # reference processing_steps.py constants
    assert BATCH_SIZES[DestinationType.ADS_OFFLINE_CONVERSION] == 2000
    assert BATCH_SIZES[DestinationType.GA_MEASUREMENT_PROTOCOL] == 20
    assert BATCH_SIZES[DestinationType.CM_OFFLINE_CONVERSION] == 1000
    assert BATCH_SIZES[DestinationType.GA_USER_LIST_UPLOAD] == 5_000_000
    assert BATCH_SIZES[DestinationType.APPSFLYER_S2S_EVENTS] == 1000


def test_concurrent_sender_overlaps_through_executor(spark, released):
    """End-to-end throughput: a per-row transport with 20ms latency and
    max_concurrency=8 must overlap I/O inside each chunk — 32 rows in one
    partition complete in ~rows/concurrency*latency, not rows*latency
    (the engine's answer to the reference's aiohttp overlap,
    appsflyer_s2s_uploader_async.py:101-139)."""
    import time as _time

    from megalista_spark.sinks.executor import SinkExecutor
    from megalista_spark.sinks.transports import ConcurrentSendTransport

    class SlowSender(ConcurrentSendTransport):
        def send_one(self, row, context):
            _time.sleep(0.02)
            return True

    df = spark.createDataFrame([(i,) for i in range(32)], ["k"]).coalesce(1)
    t = SlowSender(max_concurrency=8)
    result = released(SinkExecutor(t, batch_size=16).run(df))
    assert result.success.count() == 32
    # the overlap assertion measures the transport directly (Spark job
    # overhead would swamp a wall-clock check through the executor):
    # serial floor is 32*0.02 = 0.64s; overlapped ceil(32/8)*0.02 ≈ 0.08s
    start = _time.monotonic()
    accepted = t.send([{"k": i} for i in range(32)], {})
    direct = _time.monotonic() - start
    assert len(accepted) == 32
    assert direct < 0.32  # < half the 0.64s serial floor


class _PacedSender(ConcurrentSendTransport):
    """Accepts every row at once; each upload task writes the time of its
    first send and of its close, and its row count, under ``out_dir``."""

    def __init__(self, out_dir):
        super().__init__(max_concurrency=4)
        self.out_dir = out_dir
        self._first = None
        self._rows = 0

    def send(self, payload, context):
        if self._first is None:
            self._first = time.time()
        self._rows += len(payload)
        return super().send(payload, context)

    def send_one(self, row, context):
        return True

    def close(self, context):
        with open(os.path.join(self.out_dir, str(context["partition_id"])), "w") as f:
            json.dump([self._first, time.time(), self._rows], f)


def _paced_rate(spark, out_dir, budget, tasks, rows_per_task):
    """Upload ``tasks`` partitions of ``rows_per_task`` rows to a destination
    with a ``budget`` events/s limit; return the overall event rate."""
    df = spark.range(0, tasks * rows_per_task, 1, numPartitions=tasks)
    result = SinkExecutor(
        _PacedSender(str(out_dir)), batch_size=50, rate_limit_per_sec=budget
    ).run(df)
    try:
        assert result.success.count() == tasks * rows_per_task
    finally:
        result.release()

    stats = [json.loads(p.read_text()) for p in out_dir.iterdir()]
    assert len(stats) == tasks and all(n == rows_per_task for _, _, n in stats)
    window = max(end for _, end, _ in stats) - min(first for first, _, _ in stats)
    return tasks * rows_per_task / window


def test_rate_budget_is_shared_across_upload_tasks(spark, tmp_path):
    """A 400 events/s destination uploaded by 4 concurrent tasks: each task
    gets a quarter of the budget and every chunk waits out its floor, so
    the overall event rate lands between 0.8x and 1x the budget."""
    if spark.sparkContext.defaultParallelism < 4:
        pytest.skip("needs 4 cores to run the 4 upload tasks at once")
    budget = 400.0
    rate = _paced_rate(spark, tmp_path, budget, tasks=4, rows_per_task=200)
    assert 0.8 * budget <= rate <= budget


def test_rate_budget_holds_when_tasks_outnumber_cores(spark, tmp_path):
    """Twice as many upload tasks as task slots: the tasks run in two waves,
    so the budget is split by the slots, not by the partitions, and the
    overall event rate still lands between 0.8x and 1x the budget. Each
    task runs 3 s, long against the gap of a few tenths of a second
    between the waves."""
    slots = spark.sparkContext.defaultParallelism
    if slots < 4:
        pytest.skip("needs 4 cores to run the upload tasks in full waves")
    budget = 400.0
    rate = _paced_rate(spark, tmp_path, budget, tasks=2 * slots, rows_per_task=300)
    assert 0.8 * budget <= rate <= budget


class _DriverStateProbe(Transport):
    """``before_run`` sets an attribute on the driver's transport; each
    chunk writes to a new file under ``out_dir`` whether its task's copy
    has that attribute."""

    def __init__(self, out_dir):
        self.out_dir = out_dir

    def before_run(self, context):
        self.driver_state = "built by before_run"

    def send(self, payload, context):
        with open(os.path.join(self.out_dir, uuid.uuid4().hex), "w") as f:
            json.dump(hasattr(self, "driver_state"), f)
        return payload


def test_tasks_never_see_before_run_state(spark, tmp_path):
    """Each task gets the transport as run() received it: what before_run
    builds stays on the driver, with no __getstate__ on the transport."""
    t = _DriverStateProbe(str(tmp_path))
    df = spark.range(0, 40, 1, numPartitions=4)
    result = SinkExecutor(t, batch_size=100).run(df)
    assert (result.rows, result.accepted) == (40, 40)
    result.release()
    assert t.driver_state == "built by before_run"
    seen = [json.loads(p.read_text()) for p in tmp_path.iterdir()]
    assert seen == [False] * 4


class _PickleRecorder(Transport):
    """Accepts every row and pickles each chunk it receives, with the chunk
    context, to a new file under ``out_dir``."""

    def __init__(self, out_dir):
        self.out_dir = out_dir

    def send(self, payload, context):
        with open(os.path.join(self.out_dir, uuid.uuid4().hex), "wb") as f:
            pickle.dump((dict(context), payload), f)
        return payload


def _recorded(out_dir):
    return [pickle.loads(p.read_bytes()) for p in out_dir.iterdir()]


def test_transport_rows_equal_row_as_dict(spark, tmp_path):
    """The transport gets the values ``Row.asDict(recursive=True)`` gives:
    nested structs and arrays of structs as dicts and lists, timestamps as
    naive local datetimes, decimals as Decimal, binary as bytes (Spark's
    default ``spark.sql.execution.pyspark.binaryAsBytes``)."""
    import datetime as dt
    from decimal import Decimal

    schema = (
        "id int, name string, note string,"
        " address_info struct<first_name:string, zip_code:string, seen:timestamp>,"
        " customVariables array<struct<type:string, value:string>>,"
        " ts timestamp, day date, amount decimal(12,2), blob binary, tags map<string,int>"
    )
    rows = [
        (
            i,
            f"n{i}",
            None if i % 2 else "x",
            None if i == 3 else {"first_name": "a", "zip_code": None, "seen": dt.datetime(2020, 1, i + 1, 8)},
            [{"type": "U1", "value": str(i)}, {"type": "U2", "value": None}] if i != 2 else None,
            dt.datetime(2020, 4, 9, 14, 13, i),
            dt.date(2020, 1, i + 1),
            Decimal(f"{i}.25"),
            bytes([i, 0, 255]),
            {"k": i} if i != 1 else None,
        )
        for i in range(5)
    ]
    df = spark.createDataFrame(rows, schema)
    result = SinkExecutor(_PickleRecorder(str(tmp_path)), batch_size=2).run(df)
    result.release()
    sent = sorted((d for _, chunk in _recorded(tmp_path) for d in chunk), key=lambda d: d["id"])
    expected = [r.asDict(recursive=True) for r in df.orderBy("id").collect()]
    assert sent == expected
    assert type(sent[0]["blob"]) is type(expected[0]["blob"])
    assert sent[0]["ts"].tzinfo is None and sent[0]["address_info"]["seen"].tzinfo is None


def test_chunks_span_arrow_batches(spark, tmp_path):
    """Arrow batches of 7 rows, chunks of 10: 45 rows in one partition
    give chunks of 10, 10, 10, 10 and 5 with 1-based indices."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        df = spark.range(0, 45, 1, numPartitions=1)
        result = SinkExecutor(_PickleRecorder(str(tmp_path)), batch_size=10).run(df)
        assert (result.rows, result.accepted) == (45, 45)
        result.release()
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    chunks = sorted((ctx["chunk_index"], ctx["iteration"], len(p)) for ctx, p in _recorded(tmp_path))
    assert chunks == [(1, 1, 10), (2, 2, 10), (3, 3, 10), (4, 4, 10), (5, 5, 5)]
    ids = sorted(d["id"] for _, p in _recorded(tmp_path) for d in p)
    assert ids == list(range(45))


def test_rebuilt_copy_of_equal_rows_fails_the_chunk(spark):
    # a copy of one of two equal rows matches neither: the chunk fails with
    # the contract error and no row is accepted
    class OneCopy(Transport):
        def send(self, payload, context):
            return [dict(payload[0])]

    df = spark.createDataFrame([("same", 1), ("same", 1)], ["k", "v"]).coalesce(1)
    result = SinkExecutor(OneCopy(), batch_size=10).run(df)
    assert (result.rows, result.accepted) == (2, 0)
    assert result.success.count() == 0
    assert len(result.error_messages) == 1
    assert "not sent" in result.error_messages[0]
    result.release()


@pytest.mark.parametrize("shape", ["no_partitions", "filtered_out"])
def test_empty_input_counts_zero_and_releases(spark, shape):
    """A frame with no partitions and one the optimizer knows is empty both
    run to zero counts, and release() leaves no persisted RDD behind."""
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    if shape == "no_partitions":
        df = spark.createDataFrame(sc.emptyRDD(), "k long")
    else:
        df = spark.range(10).where(F.lit(False))
    persisted = set(sc._jsc.getPersistentRDDs().keySet())
    result = SinkExecutor(MockTransport(), batch_size=4).run(df)
    assert (result.rows, result.accepted, result.error_messages) == (0, 0, [])
    result.release()
    assert set(sc._jsc.getPersistentRDDs().keySet()) == persisted


@contextlib.contextmanager
def _counting_zip_reads():
    """Yields the list of archives whose zip directory is read while the
    block runs (calls to ``zipimport._read_directory``)."""
    import zipimport

    reads: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    zipimport._read_directory = counting
    try:
        yield reads
    finally:
        zipimport._read_directory = real


def test_stamped_zipimporter_rereads_only_a_changed_archive(tmp_path):
    """Installed over an importer that has already imported from a zip,
    the stamped zipimporter makes ``importlib.invalidate_caches()`` skip
    the unchanged archive, and re-reads it once it is rewritten."""
    import importlib
    import sys
    import zipfile
    import zipimport

    from megalista_spark.zip_imports import StampedZipImporter, install_stamped_zipimporter

    archive = str(tmp_path / "stamped.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("stamped_one.py", "X = 1\n")
    saved_path, saved_hooks = list(sys.path), list(sys.path_hooks)
    saved_cache = dict(sys.path_importer_cache)
    try:
        sys.path.insert(0, archive)
        assert importlib.import_module("stamped_one").X == 1
        install_stamped_zipimporter()
        install_stamped_zipimporter()  # idempotent
        assert sys.path_hooks.count(StampedZipImporter) == 1
        assert zipimport.zipimporter not in sys.path_hooks
        assert type(sys.path_importer_cache[archive]) is StampedZipImporter
        importlib.invalidate_caches()  # an importer's first one re-reads
        with _counting_zip_reads() as reads:
            importlib.invalidate_caches()
        assert reads == []

        stat = os.stat(archive)
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("stamped_one.py", "X = 1\n")
            z.writestr("stamped_two.py", "Y = 2\n")
        # a later mtime even where the file system's clock is coarse
        os.utime(archive, ns=(stat.st_atime_ns, stat.st_mtime_ns + 10**9))
        assert os.stat(archive).st_size != stat.st_size
        with _counting_zip_reads() as reads:
            importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module("stamped_two").Y == 2
    finally:
        for finder in sys.path_importer_cache.values():
            if type(finder) is StampedZipImporter:
                finder.__class__ = zipimport.zipimporter
        sys.path[:] = saved_path
        sys.path_hooks[:] = saved_hooks
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)
        sys.modules.pop("stamped_one", None)
        sys.modules.pop("stamped_two", None)


class _ZipRereadProbe(Transport):
    """Accepts every row and writes, for its worker process, whether the
    stamped zipimporter hook is installed and how many zip directories
    ``importlib.invalidate_caches()`` re-reads."""

    def __init__(self, out_dir):
        self.out_dir = out_dir

    def send(self, payload, context):
        import importlib
        import sys

        from megalista_spark.zip_imports import StampedZipImporter

        with _counting_zip_reads() as reads:
            importlib.invalidate_caches()
        record = {
            "pid": os.getpid(),
            "hooked": StampedZipImporter in sys.path_hooks,
            "reads": len(reads),
        }
        with open(os.path.join(self.out_dir, uuid.uuid4().hex), "w") as f:
            json.dump(record, f)
        return payload


def test_reused_upload_worker_rereads_no_zip_directory(spark, tmp_path):
    """In the upload tasks the hook is installed, and a task on a worker
    that has run an upload before re-reads no zip directory. One-task
    uploads run until one lands on a worker seen before; idle workers are
    handed out in turn, so that takes at most one more run than there are
    idle workers."""
    df = spark.range(0, 4, 1, numPartitions=1)
    seen: dict[int, list[int]] = {}
    for _ in range(4 * spark.sparkContext.defaultParallelism + 2):
        out = tmp_path / uuid.uuid4().hex
        out.mkdir()
        result = SinkExecutor(_ZipRereadProbe(str(out)), batch_size=4).run(df)
        assert (result.rows, result.accepted) == (4, 4)
        result.release()
        [record] = [json.loads(p.read_text()) for p in out.iterdir()]
        assert record["hooked"]
        seen.setdefault(record["pid"], []).append(record["reads"])
        if len(seen[record["pid"]]) > 1:
            break
    repeats = [counts[1:] for counts in seen.values() if len(counts) > 1]
    assert repeats == [[0]], seen

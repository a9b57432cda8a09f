"""Transactional anti-join dedup + control-table round trip — the
reference's defining idempotency behavior (SURVEY §7.2)."""

from __future__ import annotations

import datetime as dt
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyarrow.fs import LocalFileSystem
from pyspark.sql import functions as F

from megalista_spark.models.execution import (
    DestinationType,
    Source,
    SourceType,
    TransactionalType,
)
from megalista_spark.schema.registry import get_schema
from megalista_spark.sinks.executor import SinkExecutor
from megalista_spark.sinks.transports import MockTransport
from megalista_spark.sources.data_source import (
    ControlTable,
    _listing,
    anti_join_uploaded,
    get_data_source,
)


def test_anti_join_single_key(spark):
    src = spark.createDataFrame([("a",), ("b",), ("c",)], ["uuid"])
    uploaded = spark.createDataFrame(
        [(dt.datetime.now(), "b")], ["timestamp", "uuid"]
    )
    out = anti_join_uploaded(src, uploaded, TransactionalType.UUID)
    assert sorted(r["uuid"] for r in out.collect()) == ["a", "c"]


def test_anti_join_composite_key(spark):
    src = spark.createDataFrame(
        [("g1", "t1"), ("g1", "t2"), ("g2", "t1")], ["gclid", "time"]
    )
    uploaded = spark.createDataFrame(
        [(dt.datetime.now(), "g1", "t2")], ["timestamp", "gclid", "time"]
    )
    out = anti_join_uploaded(src, uploaded, TransactionalType.GCLID_TIME)
    assert sorted((r["gclid"], r["time"]) for r in out.collect()) == [
        ("g1", "t1"),
        ("g2", "t1"),
    ]


def test_control_table_roundtrip(spark, tmp_path):
    path = str(tmp_path / "src_uploaded")
    ct = ControlTable(spark, path, keys=("uuid",))
    # missing → typed empty frame (reference file_data_source.py:127-138)
    empty = ct.read()
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["timestamp", "uuid"]

    src = spark.createDataFrame([("a",), ("b",), ("c",)], ["uuid"])
    first = anti_join_uploaded(src, ct.read(), TransactionalType.UUID)
    assert first.count() == 3
    ct.append(first.select("uuid"))

    # re-run: everything already uploaded → idempotent
    second = anti_join_uploaded(src, ct.read(), TransactionalType.UUID)
    assert second.count() == 0

    # new rows flow through
    src2 = spark.createDataFrame([("a",), ("d",)], ["uuid"])
    third = anti_join_uploaded(src2, ct.read(), TransactionalType.UUID)
    assert [r["uuid"] for r in third.collect()] == ["d"]


def test_retention_window(spark, tmp_path):
    """Keys older than 15 days are ignored at read
    (reference file_data_source.py:141-147)."""
    path = str(tmp_path / "old_uploaded")
    old = dt.datetime.now() - dt.timedelta(days=20)
    recent = dt.datetime.now() - dt.timedelta(days=1)
    spark.createDataFrame(
        [(old, "stale"), (recent, "fresh")], ["timestamp", "uuid"]
    ).write.parquet(path)
    ct = ControlTable(spark, path, keys=("uuid",))
    kept = [r["uuid"] for r in ct.read().collect()]
    assert kept == ["fresh"]


def test_vacuum_reclaims_expired_partitions(spark, tmp_path):
    """vacuum() deletes dt partitions past retention; read() results are
    unchanged (those partitions were already filtered at plan time)."""
    path = str(tmp_path / "vac_uploaded")
    old = dt.datetime.now() - dt.timedelta(days=20)
    recent = dt.datetime.now() - dt.timedelta(days=1)
    (
        spark.createDataFrame(
            [(old, "stale"), (recent, "fresh")], ["timestamp", "uuid"]
        )
        .withColumn("dt", F.to_date("timestamp"))
        .write.partitionBy("dt")
        .parquet(path)
    )
    ct = ControlTable(spark, path, keys=("uuid",))
    before = [r["uuid"] for r in ct.read().collect()]
    deleted = ct.vacuum()
    assert deleted == [(dt.date.today() - dt.timedelta(days=20)).isoformat()]
    after = [r["uuid"] for r in ct.read().collect()]
    assert before == after == ["fresh"]
    assert ct.vacuum() == []  # idempotent


def test_control_table_at_file_uri(spark, tmp_path):
    """A control table addressed by URI (``file://`` here; HDFS, S3A and
    GCS alike) reads back what was appended, so dedup stays on."""
    ct = ControlTable(spark, "file://" + str(tmp_path / "uri_uploaded"), keys=("uuid",))
    assert ct.read().count() == 0
    ct.append(spark.createDataFrame([("a",), ("b",)], ["uuid"]))
    assert sorted(r["uuid"] for r in ct.read().collect()) == ["a", "b"]
    src = spark.createDataFrame([("a",), ("c",)], ["uuid"])
    kept = anti_join_uploaded(src, ct.read(), TransactionalType.UUID)
    assert [r["uuid"] for r in kept.collect()] == ["c"]


def test_absent_control_table_plans_no_join(spark, tmp_path):
    """With no control table yet the anti-join folds away: the optimized
    plan of a transactional read is the bare source."""
    path = str(tmp_path / "fresh.parquet")
    spark.createDataFrame([("g1", "t1", "1.0")], ["gclid", "time", "amount"]).write.parquet(path)
    ds = get_data_source(spark, Source("fresh", SourceType.FILE, ("PARQUET", path)))
    schema = get_schema(DestinationType.ADS_OFFLINE_CONVERSION)
    df = ds.retrieve_data(schema, schema.transactional_type)
    assert "Join" not in df._jdf.queryExecution().optimizedPlan().toString()
    assert df.count() == 1


def test_duplicate_control_keys_drop_each_row_once(spark, tmp_path):
    """A control table holding a key twice drops that source row once and
    duplicates none."""
    ct = ControlTable(spark, str(tmp_path / "dup_uploaded"), keys=("uuid",))
    ct.append(spark.createDataFrame([("a",), ("b",)], ["uuid"]))
    ct.append(spark.createDataFrame([("a",)], ["uuid"]))
    src = spark.createDataFrame([("a",), ("b",), ("c",), ("c",), ("d",)], ["uuid"])
    kept = anti_join_uploaded(src, ct.read(), TransactionalType.UUID)
    assert sorted(r["uuid"] for r in kept.collect()) == ["c", "c", "d"]


def test_timestamp_key_control_table_dedups(spark, tmp_path):
    """A parquet source whose ``time`` key is a timestamp: schema.apply
    leaves it uncast, the upload tasks stage it as a timestamp, and after
    the commit the next transactional read drops every recorded row."""
    path = str(tmp_path / "ts.parquet")
    rows = [(f"g{i}", dt.datetime(2020, 4, 9, 14, 13, i), "1.0") for i in range(5)]
    spark.createDataFrame(rows, ["gclid", "time", "amount"]).write.parquet(path)
    ds = get_data_source(spark, Source("ts", SourceType.FILE, ("PARQUET", path)))
    schema = get_schema(DestinationType.ADS_OFFLINE_CONVERSION)
    txn = schema.transactional_type
    first = ds.retrieve_data(schema, txn)
    assert first.count() == 5
    outcome = SinkExecutor(MockTransport()).run(first, ds.key_staging(txn))
    ds.record_uploaded(txn, outcome)
    outcome.release()
    assert ds.retrieve_data(schema, txn).count() == 0


def _utc_today() -> dt.date:
    return dt.datetime.now(dt.timezone.utc).date()


def _seed_partition(table, day: dt.date, keys: list[str], name: str = "part-0.parquet") -> None:
    """One file of ``keys`` stamped at noon UTC of ``day``, in ``dt=<day>/``
    as ``ControlTable.commit`` lays it out."""
    part = os.path.join(str(table), f"dt={day.isoformat()}")
    os.makedirs(part, exist_ok=True)
    noon = dt.datetime(day.year, day.month, day.day, 12, tzinfo=dt.timezone.utc)
    pq.write_table(
        pa.table({"timestamp": pa.array([noon] * len(keys), pa.timestamp("us", "UTC")), "uuid": keys}),
        os.path.join(part, name),
    )


def _jobs_of(spark, action) -> list[int]:
    sc = spark.sparkContext
    group = f"control-read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "control table read")
    try:
        action()
    finally:
        sc.setJobGroup(None, None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("days", [40, 365])
def test_read_lists_only_retained_partitions(spark, tmp_path, days):
    """However long the history, ``read()`` and its optimized plan start no
    Spark job (no parallel partition listing) and return exactly the keys
    of the partitions inside retention."""
    today = _utc_today()
    expected = set()
    for age in range(days):
        keys = [f"k{age}-{i}" for i in range(3)]
        _seed_partition(tmp_path / "t_uploaded", today - dt.timedelta(days=age), keys)
        if age <= 15:
            expected.update(keys)
    ct = ControlTable(spark, str(tmp_path / "t_uploaded"), keys=("uuid",))
    frames = []

    def read_and_plan():
        frames.append(ct.read())
        frames[0]._jdf.queryExecution().optimizedPlan()

    assert _jobs_of(spark, read_and_plan) == []
    assert sorted(r["uuid"] for r in frames[0].collect()) == sorted(expected)


def test_listing_skips_staging_bad_dates_and_hidden_names(spark, tmp_path):
    """The table root's listing keeps dated ``dt=`` directories and data
    files, and skips ``_staging/``, ``_``/``.`` files, ``dt=not-a-date``
    and a ``dt=`` directory with no date; an empty dated partition reads as
    no rows."""
    table = tmp_path / "l_uploaded"
    today = _utc_today()
    _seed_partition(table, today, ["fresh"])
    os.makedirs(table / f"dt={(today - dt.timedelta(days=1)).isoformat()}")  # empty
    for junk in ("_staging/abc", "dt=not-a-date", "dt="):
        (table / junk).mkdir(parents=True)
        _seed_partition(table / junk, today, ["junk"])
    (table / "_SUCCESS").touch()
    (table / ".part-0.parquet.crc").touch()
    spark.createDataFrame(
        [(dt.datetime.now(dt.timezone.utc), "loose")], "timestamp timestamp, uuid string"
    ).coalesce(1).write.mode("append").parquet(str(table))
    loose = [f for f in os.listdir(table) if f.startswith("part-")]

    partitions, files = _listing(LocalFileSystem(), str(table))
    assert sorted(partitions) == [
        (today - dt.timedelta(days=1), f"dt={(today - dt.timedelta(days=1)).isoformat()}"),
        (today, f"dt={today.isoformat()}"),
    ]
    assert files == loose
    ct = ControlTable(spark, str(table), keys=("uuid",))
    assert sorted(r["uuid"] for r in ct.read().collect()) == ["fresh", "loose"]


def test_vacuum_deletes_exactly_what_read_no_longer_reads(spark, tmp_path):
    """Partitions aged 14-17 days: ``vacuum()`` deletes those older than
    ``read()``'s cutoff and nothing else, and ``read()`` returns the same
    rows before and after."""
    table = tmp_path / "v_uploaded"
    today = _utc_today()
    for age in (14, 15, 16, 17):
        _seed_partition(table, today - dt.timedelta(days=age), [f"age{age}"])
    ct = ControlTable(spark, str(table), keys=("uuid",))
    before = sorted(r["uuid"] for r in ct.read().collect())
    assert before == ["age14", "age15"]
    assert ct.vacuum() == [(today - dt.timedelta(days=age)).isoformat() for age in (17, 16)]
    assert sorted(os.listdir(table)) == [
        f"dt={(today - dt.timedelta(days=age)).isoformat()}" for age in (15, 14)
    ]
    assert sorted(r["uuid"] for r in ct.read().collect()) == before
    assert ct.vacuum() == []


def test_append_commits_one_utc_partition(spark, tmp_path):
    """``append`` writes through a staging directory and ``commit``: its
    files land in ``dt=<UTC date of their timestamp>/`` and nothing is
    left under ``_staging/``."""
    table = tmp_path / "a_uploaded"
    ct = ControlTable(spark, str(table), keys=("uuid",))
    ct.append(spark.createDataFrame([("a",), ("b",)], ["uuid"]))
    assert os.listdir(table / "_staging") == []
    [partition] = [name for name in os.listdir(table) if name != "_staging"]
    stamps = {r["timestamp"] for r in spark.read.parquet(str(table / partition)).collect()}
    [stamp] = stamps
    assert partition == f"dt={stamp.astimezone(dt.timezone.utc).date().isoformat()}"
    assert sorted(r["uuid"] for r in ct.read().collect()) == ["a", "b"]

"""Transactional anti-join dedup + control-table round trip — the
reference's defining idempotency behavior (SURVEY §7.2)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from megalista_spark.models.execution import TransactionalType
from megalista_spark.sources.data_source import ControlTable, anti_join_uploaded


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

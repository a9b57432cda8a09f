

def test_read_evolving_parquet_normalizes_mixed_vintages(spark, tmp_path):
    # file 1: (k int, v string) — file 2 adds a column and widens k
    from pyspark.sql import types as T

    from megalista_spark.sources.data_source import read_evolving_parquet

    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string").coalesce(
        1
    ).write.mode("append").parquet(path)
    spark.createDataFrame(
        [(3, "c", 9.5)], "k bigint, v string, score double"
    ).coalesce(1).write.mode("append").parquet(path)

    target = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("added_later", T.StringType()),  # in contract, in no file
        ]
    )
    out = read_evolving_parquet(spark, path, target)
    assert [f.name for f in out.schema.fields] == ["k", "v", "score", "added_later"]
    assert dict(out.dtypes) == {
        "k": "bigint", "v": "string", "score": "double", "added_later": "string"
    }
    rows = {r.k: (r.v, r.score, r.added_later) for r in out.collect()}
    assert rows == {1: ("a", None, None), 2: ("b", None, None), 3: ("c", 9.5, None)}


def test_compact_parquet_merges_small_files(spark, tmp_path):
    from megalista_spark.operators.layout import compact_parquet

    src, dst = str(tmp_path / "frag"), str(tmp_path / "compact")
    df = spark.range(0, 20000).selectExpr("id AS k", "id % 7 AS v")
    df.repartition(64).write.parquet(src)  # 64 tiny files
    import glob

    assert len(glob.glob(f"{src}/*.parquet")) == 64
    n = compact_parquet(spark, src, dst, target_file_mb=256, sort_cols=["k"])
    assert n == 1  # well under one 256 MB target
    out = spark.read.parquet(dst)
    assert out.count() == 20000
    assert out.selectExpr("sum(k)", "sum(v)").collect() == df.selectExpr(
        "sum(k)", "sum(v)"
    ).collect()


def test_text_source_reads_lines(spark, tmp_path):
    from megalista_spark.models.execution import Source, SourceType
    from megalista_spark.sources.data_source import get_data_source

    p = tmp_path / "corpus.txt"
    p.write_text("first line\nsecond line\nthird line\n")
    src = Source(name="t", source_type=SourceType.FILE, metadata=("text", str(p)))
    df = get_data_source(spark, src).read_raw()
    assert df.columns == ["value"]
    assert sorted(r["value"] for r in df.collect()) == [
        "first line", "second line", "third line",
    ]


def test_binary_source_reads_media_tree(spark, tmp_path):
    from megalista_spark.models.execution import Source, SourceType
    from megalista_spark.sources.data_source import get_data_source

    media = tmp_path / "media" / "sub"
    media.mkdir(parents=True)
    (tmp_path / "media" / "a.bin").write_bytes(b"\x00\x01payload-a")
    (media / "b.bin").write_bytes(b"\x02payload-b")
    src = Source(
        name="m", source_type=SourceType.FILE,
        metadata=("binary", str(tmp_path / "media")),
    )
    df = get_data_source(spark, src).read_raw()
    rows = {r["path"].rsplit("/", 1)[-1]: bytes(r["content"]) for r in df.collect()}
    assert rows == {"a.bin": b"\x00\x01payload-a", "b.bin": b"\x02payload-b"}
    assert "length" in df.columns  # metadata columns for size-based routing


def test_csv_empty_fields_read_as_null_like_the_reference(spark, tmp_path):
    """An empty CSV field, unquoted (``1,,x``) or quoted (``2,"",y``), reads
    as null, as the reference's pandas ``read_csv(dtype='string')`` reads
    it, so ``read_raw`` keeps Spark's CSV defaults."""
    import pandas as pd

    from megalista_spark.models.execution import Source, SourceType
    from megalista_spark.sources.data_source import get_data_source

    p = tmp_path / "conv.csv"
    p.write_text('id,v,w\n1,,x\n2,"",y\n')
    reference = pd.read_csv(p, dtype="string")
    assert reference["v"].isna().tolist() == [True, True]

    src = Source(name="c", source_type=SourceType.FILE, metadata=("csv", str(p)))
    rows = get_data_source(spark, src).read_raw().orderBy("id").collect()
    assert [tuple(r) for r in rows] == [("1", None, "x"), ("2", None, "y")]

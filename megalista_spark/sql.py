"""SQL surface: register the engine's tables as temp views so users can
run arbitrary ``spark.sql`` over them — the relational capabilities
(joins, windows, rollup/cube, set ops, percentiles) are Spark built-ins
exposed through the same session the operators run on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from megalista_spark.functions.hashing import _PY_WHITESPACE

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def register_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Create a temp view per test table (events ts normalized to a real
    timestamp). Returns the DataFrames keyed by name."""
    out: dict[str, DataFrame] = {}
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    for name in TABLES:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if name == "events":
            ts_type = dict(df.dtypes).get("ts")
            if ts_type == "bigint":
                df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
            elif ts_type == "timestamp_ntz":
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def register_sql_functions(spark: SparkSession) -> None:
    """Expose the engine's portable scalar library to SQL users as
    SQL-defined functions (pure expression bodies — JVM-side, codegen'd,
    no Python round-trip): the hash family, email normalization, and PII
    hashing, callable from any ``spark.sql`` string."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION portable_hash64(x STRING) "
        "RETURNS BIGINT RETURN CAST(conv(substring(md5(x), 1, 15), 16, 10) AS BIGINT)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION portable_hash32(x STRING) "
        "RETURNS BIGINT RETURN CAST(conv(substring(md5(x), 1, 8), 16, 10) AS BIGINT)"
    )
    # exact twin of functions/hashing.py::normalize_email (reference
    # byte-parity: no trim, malformed pass-through, multi-@ handling)
    spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION normalize_email(e STRING)
        RETURNS STRING RETURN
        CASE WHEN contains(lower(e), '@') THEN concat(
          CASE WHEN substring_index(substring_index(lower(e), '@', 2), '@', -1)
                    RLIKE '^(gmail|googlemail)\\\\.com$'
               THEN replace(substring_index(lower(e), '@', 1), '.', '')
               ELSE substring_index(lower(e), '@', 1) END,
          '@',
          substr(lower(e), length(substring_index(lower(e), '@', 1)) + 2))
        ELSE e END"""
    )
    # twin of hash_field: trims what str.strip() strips, as \uXXXX escapes
    whitespace = "".join(f"\\u{ord(c):04x}" for c in _PY_WHITESPACE)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION hash_pii(x STRING) "
        f"RETURNS STRING RETURN sha2(lower(btrim(x, '{whitespace}')), 256)"
    )


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """One-shot: register views + the scalar library and run a SQL query."""
    register_tables(spark, sf_dir)
    register_sql_functions(spark)
    return spark.sql(query)

"""Loaders for the benchmark parquet tables (TESTDATA.md).

Explicit schemas everywhere — the reference's "schema by string-splitting
convention" (SURVEY.md §1.3) is replaced by declared StructTypes; a schema
mismatch fails at plan time, not mid-job at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType([
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]),
    "nation": T.StructType([
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]),
    "customer": T.StructType([
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]),
    "supplier": T.StructType([
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("s_acctbal", T.DoubleType()),
    ]),
    "part": T.StructType([
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_name", T.StringType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_type", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("p_retailprice", T.DoubleType()),
    ]),
    "orders": T.StructType([
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampNTZType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]),
    "lineitem": T.StructType([
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_suppkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
        T.StructField("l_tax", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_linestatus", T.StringType()),
        T.StructField("l_shipdate", T.TimestampNTZType()),
    ]),
    "events": T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]),
    "documents": T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]),
    "embeddings": T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]),
}


def _max_partition_bytes(spark: SparkSession) -> int:
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    digits = "".join(ch for ch in raw if ch.isdigit())
    mult = 1024 * 1024 if raw.lower().endswith(("m", "mb")) else 1
    return int(digits) * mult if digits else 134217728


def _fan_out(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Spread under-split scans across the cluster.

    Downstream text/vector operators amplify CPU per input byte ~100x
    (tokenize, shingle-hash, per-dimension math), so scan-split parallelism
    is the ceiling for the whole pipeline. The local fixtures are
    single-row-group parquet => every scan is ONE task on a 32-core runner.
    Repartition ONLY when the file size says the scan will have fewer
    splits than the cluster has slots — the same condition bounds the
    repartition cost (< slots x maxPartitionBytes moved once), and at
    100 TB a scan has thousands of splits so this is a no-op there.
    Size check is a driver-side stat (asking the plan via df.rdd costs ~1 s
    per DataFrame — measured); non-local paths skip fan-out."""
    try:
        size = (
            os.path.getsize(path)
            if os.path.isfile(path)
            else sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(path)
                for f in fs
            )
        )
    except OSError:
        return df
    target = spark.sparkContext.defaultParallelism
    if size < target * _max_partition_bytes(spark):
        return df.repartition(target)
    return df


# Only documents benefits (measured at sf0.1, local[32]): tokenize/shingle/
# hash amplify CPU ~100x per input byte, so scan splits cap the pipeline.
# Everything else regresses: relational/event aggregations are scan-bound,
# and iterative MLlib fits pay per-task overhead x partitions x iterations
# (kmeans_cluster_sizes: 1.9 s -> 7.8 s with embeddings fanned out).
_FAN_OUT_TABLES = {"documents"}


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    fan_out: bool = True,
    force_fan_out: bool = False,
) -> DataFrame:
    """One parquet table. Parquet scans get predicate pushdown + column
    pruning from Catalyst for free; we do NOT cache here (caller decides).

    ``events.ts`` varies physically across testdata generations:
    TIMESTAMP(NANOS) (which Spark rejects by default — read as long nanos
    and truncate to micros, exactly what DuckDB/pandas do downcasting
    ns -> us) or TIMESTAMP(MICROS) without timezone (Spark reads
    TIMESTAMP_NTZ — cast to the session-tz type; session tz is pinned UTC
    so the cast is value-preserving). Dispatch on the dtype actually read
    so either layout lands on the declared TimestampType schema.

    Every other table is read with its declared ``SCHEMAS`` entry, so the
    scan plans without the Spark job that infers a schema from the
    parquet footers. ``o_orderdate`` and ``l_shipdate`` are declared as
    TIMESTAMP_NTZ, the type the fixtures' TIMESTAMP(MICROS) columns
    without a time zone infer to."""
    # force_fan_out: per-call opt-in for tables outside _FAN_OUT_TABLES —
    # used by CPU-amplifying one-pass vector queries (distance math per
    # row) whose work would otherwise serialize into one single-row-group
    # scan task; iterative fits must NOT set it (per-task overhead x
    # iterations, measured 1.9 s -> 7.8 s — note below).
    fan_out = force_fan_out or (fan_out and name in _FAN_OUT_TABLES)
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F

        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if fan_out:
            df = _fan_out(spark, df, f"{sf_dir}/{name}.parquet")
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    df = spark.read.schema(SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")
    return _fan_out(spark, df, f"{sf_dir}/{name}.parquet") if fan_out else df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql(...)`` works
    directly — the engine's SQL surface (same names the DuckDB oracle
    uses, so any oracle query in plans/ also runs verbatim on Spark SQL
    modulo dialect)."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)

"""Typed catalog over the driver fixture tables.

The reference never declares a schema (SURVEY.md §1.3: header-only reads,
``inferSchema=True`` sampling, positional ``toDF`` — e.g.
``hw2/BDM_hw2_final.py:31-37``, ``FinalProject/BDM_Final.py:78``,
``hw4/hw4.py:35``). Our engine is explicit-schema everywhere: inference is
non-deterministic across engines and forces an extra pass over 100 TB.

Fixture tables live at ``{sf_dir}/{name}.parquet`` (TESTDATA.md). Parquet
carries its own schema; the StructTypes below serve three purposes:
validation on load, documentation, and schemas for the CSV/stream readers.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
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
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TABLES: tuple[str, ...] = tuple(SCHEMAS)


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to ``TimestampType`` whatever the fixture's
    physical encoding. Generations of the fixture have stored it as
    TIMESTAMP(NANOS) (readable only as bigint under
    ``legacy.parquet.nanosAsLong``) and as TIMESTAMP(MICROS,
    isAdjustedToUTC=false) (read as TIMESTAMP_NTZ by Spark's default
    ``parquet.inferTimestampNTZ``). Every downstream consumer —
    ``unix_micros``, ``window()``, watermarks — requires plain TIMESTAMP,
    so the conversion lives here, once. The session timezone is pinned to
    UTC, so the NTZ→TZ cast is value-preserving (wall clock == instant)."""
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        # integer div — double division would lose precision on 1.7e18 nanos
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dt == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


#: session -> {(path, st_mtime_ns, st_size): the schema Spark inferred}
_inferred: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def stored_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` infers, inferred once per
    session and file version: inference runs a Spark job, so later reads
    of an unchanged file reuse it.  The key is the file's (or table
    directory's) path, mtime and size; a rewrite changes it."""
    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    cache = _inferred.setdefault(spark, {})
    if key not in cache:
        cache[key] = spark.read.parquet(path).schema
    return cache[key]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table. Plain ``spark.read.parquet`` so Catalyst
    gets full pushdown/pruning against the parquet scan; the schema is
    passed explicitly once inferred (:func:`stored_schema`)."""
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # the driver hands us ITS session — pin correctness confs on it
    from ..session import ensure_runtime_confs

    ensure_runtime_confs(spark)
    path = table_path(sf_dir, name)
    df = spark.read.schema(stored_schema(spark, path)).parquet(path)
    if name == "events":
        df = normalize_events_ts(df)
    return df

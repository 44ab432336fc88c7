"""Explicit schemas — never inferred.

The reference is static-schema with positional columns
(buzzdb_lab1.cpp:39-83: ``User(id,username,location)``,
``Post(id,content,username,views)``,
``Engagement(id,postId,username,type,comment,timestamp)``); the only
primitive types are int and string (buzzdb_lab1.cpp:35-83). We keep
IntegerType for the reference-parity tables (values are course-lab
sized) and use the wider driver-fixture types as-is.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

# ---------------------------------------------------------------------------
# Reference-parity social-media tables (FIXTURES.md §1)
# ---------------------------------------------------------------------------

USERS = StructType(
    [
        StructField("id", IntegerType()),
        StructField("username", StringType()),
        StructField("location", StringType()),
    ]
)

POSTS = StructType(
    [
        StructField("id", IntegerType()),
        StructField("content", StringType()),
        StructField("username", StringType()),
        StructField("views", IntegerType()),
    ]
)

ENGAGEMENTS = StructType(
    [
        StructField("id", IntegerType()),
        StructField("postId", IntegerType()),
        StructField("username", StringType()),
        StructField("type", StringType()),
        StructField("comment", StringType()),
        StructField("timestamp", IntegerType()),
    ]
)

# Per-table integer columns that must strict-parse or the row is
# dropped (reference to_int coercion, buzzdb_lab1.cpp:144-154,
# applied at :198-200, :243-249, :292-298).
INT_COLUMNS = {
    "users": ["id"],
    "posts": ["id", "views"],
    "engagements": ["id", "postId", "timestamp"],
}

SOCIAL_SCHEMAS = {"users": USERS, "posts": POSTS, "engagements": ENGAGEMENTS}

# ---------------------------------------------------------------------------
# Driver-provided TPC-H-ish fixtures (FIXTURES.md §2)
# ---------------------------------------------------------------------------

REGION = StructType(
    [StructField("r_regionkey", IntegerType()), StructField("r_name", StringType())]
)

NATION = StructType(
    [
        StructField("n_nationkey", IntegerType()),
        StructField("n_name", StringType()),
        StructField("n_regionkey", IntegerType()),
    ]
)

CUSTOMER = StructType(
    [
        StructField("c_custkey", LongType()),
        StructField("c_name", StringType()),
        StructField("c_nationkey", IntegerType()),
        StructField("c_acctbal", DoubleType()),
        StructField("c_mktsegment", StringType()),
    ]
)

SUPPLIER = StructType(
    [
        StructField("s_suppkey", LongType()),
        StructField("s_name", StringType()),
        StructField("s_nationkey", IntegerType()),
        StructField("s_acctbal", DoubleType()),
    ]
)

PART = StructType(
    [
        StructField("p_partkey", LongType()),
        StructField("p_name", StringType()),
        StructField("p_brand", StringType()),
        StructField("p_type", StringType()),
        StructField("p_size", IntegerType()),
        StructField("p_retailprice", DoubleType()),
    ]
)

# Timestamp columns are declared TIMESTAMP_NTZ: the driver's parquet
# fixtures carry `timestamp[us]` with no UTC adjustment (Spark reads
# them as TimestampNTZType), and the DuckDB oracle's TIMESTAMP is
# likewise naive — pinning NTZ keeps all three engines value-identical
# without a session-timezone dependency.
ORDERS = StructType(
    [
        StructField("o_orderkey", LongType()),
        StructField("o_custkey", LongType()),
        StructField("o_orderstatus", StringType()),
        StructField("o_totalprice", DoubleType()),
        StructField("o_orderdate", TimestampNTZType()),
        StructField("o_orderpriority", StringType()),
    ]
)

LINEITEM = StructType(
    [
        StructField("l_orderkey", LongType()),
        StructField("l_partkey", LongType()),
        StructField("l_suppkey", LongType()),
        StructField("l_linenumber", IntegerType()),
        StructField("l_quantity", DoubleType()),
        StructField("l_extendedprice", DoubleType()),
        StructField("l_discount", DoubleType()),
        StructField("l_tax", DoubleType()),
        StructField("l_returnflag", StringType()),
        StructField("l_linestatus", StringType()),
        StructField("l_shipdate", TimestampNTZType()),
    ]
)

EVENTS = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

DOCUMENTS = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)

EMBEDDINGS = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ]
)

FIXTURE_SCHEMAS = {
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}

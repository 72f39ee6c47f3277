"""Explicit schemas for every entity the engine touches.

The reference keeps schema implicit/dynamic (`ML Feature Store
Pipeline.py:320-321` interpolates whatever columns the frame has into its
INSERT; the events CSV schema is assumed at `:165-173, :623`). We make every
schema an explicit ``StructType`` — schema-on-write parquet plus validation
at register time (strictly more checking than the reference; see SURVEY §1.3).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Reference-native entities (SURVEY §1.4, FIXTURES.md §1)
# ---------------------------------------------------------------------------

#: Raw events as the reference's generator writes them (`:599-604`).
RAW_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("amount", T.DoubleType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
    ]
)

#: Extractor output = offline store rows (`:165-181` + stamps `:313-315`).
FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("total_events", T.LongType(), True),
        T.StructField("total_purchases", T.LongType(), True),
        T.StructField("total_amount", T.DoubleType(), True),
        T.StructField("avg_amount", T.DoubleType(), True),
        T.StructField("last_event_time", T.TimestampType(), True),
        T.StructField("first_event_time", T.TimestampType(), True),
        T.StructField("unique_event_types", T.LongType(), True),
        T.StructField("days_active", T.LongType(), True),
        T.StructField("purchase_rate", T.DoubleType(), True),
        T.StructField("avg_events_per_day", T.DoubleType(), True),
    ]
)

#: Columns stamped onto features at register time (`:313-315`).
VERSION_COLUMN = "feature_version"
CREATED_AT_COLUMN = "created_at"

# ---------------------------------------------------------------------------
# Driver-provided test tables (TESTDATA.md / FIXTURES.md §2)
# ---------------------------------------------------------------------------

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)

EMBEDDINGS_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), True),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("label", T.IntegerType(), True),
    ]
)

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# ---------------------------------------------------------------------------
# FeatureConfig dtype ⇄ Spark type mapping (SURVEY §1.2; dtype whitelist `:34-39`)
# ---------------------------------------------------------------------------

_DTYPE_TO_SPARK: dict[str, T.DataType] = {
    "int64": T.LongType(),
    "float64": T.DoubleType(),
    "object": T.StringType(),
    "datetime64[ns]": T.TimestampType(),
    "bool": T.BooleanType(),
}

_SPARK_TO_DTYPE: dict[str, str] = {
    "bigint": "int64",
    "double": "float64",
    "string": "object",
    "timestamp": "datetime64[ns]",
    "boolean": "bool",
}

SUPPORTED_DTYPES = tuple(_DTYPE_TO_SPARK)


def dtype_to_spark(dtype: str) -> T.DataType:
    """Map a reference dtype string (`:36`) to its Spark type (SURVEY §1.2)."""
    if dtype not in _DTYPE_TO_SPARK:
        raise ValueError(f"dtype must be one of {SUPPORTED_DTYPES}, got {dtype!r}")
    return _DTYPE_TO_SPARK[dtype]


def spark_to_dtype(dt: T.DataType) -> str:
    name = dt.simpleString()
    if name not in _SPARK_TO_DTYPE:
        raise ValueError(f"no reference dtype for Spark type {name!r}")
    return _SPARK_TO_DTYPE[name]

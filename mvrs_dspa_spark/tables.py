"""Loaders for the test star schema.

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file (or a Spark-written directory
of part files) each under an sf directory. Loading stays lazy
(DataFrame readers), so Catalyst can prune columns and push filters
into the parquet scan per query.

Schemas are resolved on the driver from one parquet footer (pyarrow),
not inferred by Spark: inference launches a Spark job per read (~70 ms,
several reads per query), the footer read costs well under 1 ms.
:func:`parquet_schema` reproduces the types Spark's own inference
gives; layouts it does not cover fall back to inference. Nothing is
cached: the footer is read again on every call.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLE_NAMES = (
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


def _ensure_session_configs(spark: SparkSession) -> None:
    """Make reads work under ANY caller-supplied session, not just ours.

    events.parquet may store ts as INT64 TIMESTAMP(NANOS); without
    nanosAsLong the scan throws PARQUET_TYPE_ILLEGAL.  Both configs are
    runtime-settable SQLConfs, so setting them here is safe even on a
    session we did not build.  UTC pins timestamp-literal parsing so
    date predicates (q3/q4/q6/q12...) can't shift under a non-UTC JVM.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


# --- footer schema resolution -----------------------------------------------
#
# Mirrors Spark's ParquetToSparkSchemaConverter under this module's
# session configs (nanosAsLong on; inferTimestampNTZ, int96AsTimestamp
# and binaryAsString at their defaults) for the types the tables use:
# unannotated primitives, strings, timestamps and lists of them. Any
# other annotation or nesting returns None, leaving it to Spark's
# inference. Nullability is irrelevant: Spark marks every file-source
# field nullable, inferred or declared.

_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

_PLAIN = {
    "BOOLEAN": T.BooleanType(),
    "INT32": T.IntegerType(),
    "INT64": T.LongType(),
    "INT96": T.TimestampType(),
    "FLOAT": T.FloatType(),
    "DOUBLE": T.DoubleType(),
    "BYTE_ARRAY": T.BinaryType(),
}


def _leaf_type(col) -> T.DataType | None:
    ann = json.loads(col.logical_type.to_json())
    kind, phys = ann["Type"], col.physical_type
    if kind == "None":
        return _PLAIN.get(phys)
    if kind == "String" and phys == "BYTE_ARRAY":
        return T.StringType()
    if kind == "Timestamp" and phys == "INT64":
        if ann["timeUnit"] == "nanoseconds":
            return T.LongType()  # nanosAsLong
        return T.TimestampType() if ann["isAdjustedToUTC"] else T.TimestampNTZType()
    return None


def _spark_type(arrow_type: pa.DataType, leaves) -> T.DataType | None:
    """Arrow gives the nesting; each leaf takes the next parquet column
    (same depth-first order) for its physical and logical type."""
    if pa.types.is_list(arrow_type):
        element = _spark_type(arrow_type.value_type, leaves)
        return None if element is None else T.ArrayType(element)
    if pa.types.is_nested(arrow_type):
        return None
    return _leaf_type(next(leaves))


def _footer_file(path: str) -> str | None:
    """The file Spark's inference would read: the file itself, or the
    first part file of a flat directory (hidden and `_` files skipped)."""
    if os.path.isfile(path):
        return path
    if not os.path.isdir(path):
        return None
    data = sorted(n for n in os.listdir(path) if not n.startswith(("_", ".")))
    if not data or any(os.path.isdir(os.path.join(path, n)) for n in data):
        return None  # empty, or partitioned: partition columns need inference
    return os.path.join(path, data[0])


def parquet_schema(path: str) -> T.StructType | None:
    """The schema Spark infers for the local parquet table at ``path``,
    read from one footer on the driver; None where only Spark's own
    inference can tell (missing, remote or partitioned paths, other
    types)."""
    footer = _footer_file(path)
    if footer is None:
        return None
    pf = pq.ParquetFile(footer)
    spark_json = (pf.metadata.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if spark_json is not None:
        # files Spark wrote carry its schema; inference uses it verbatim
        return T.StructType.fromJson(json.loads(spark_json))
    leaves, fields = iter(pf.schema), []
    for field in pf.schema_arrow:
        t = _spark_type(field.type, leaves)
        if t is None:
            return None
        fields.append(T.StructField(field.name, t))
    return T.StructType(fields)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    _ensure_session_configs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = parquet_schema(path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    if name == "events":
        # Normalize ts to TIMESTAMP (session tz, pinned UTC above) no
        # matter how the generator wrote it: INT64 TIMESTAMP(NANOS)
        # surfaces as long nanos via nanosAsLong; TIMESTAMP(MICROS)
        # without the UTC-adjusted flag surfaces as TIMESTAMP_NTZ;
        # INT96 and UTC-adjusted MICROS already read as TIMESTAMP.
        # Every branch yields the same instants, so the DuckDB oracle
        # comparison stays instant-identical.
        from pyspark.sql import functions as F

        field = dict(df.dtypes).get("ts")
        if field == "bigint":
            # integer div: nanos ~1.7e18 exceed double's 53-bit mantissa
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif field == "timestamp_ntz":
            # NTZ -> LTZ is exact under the UTC session tz; downstream
            # code (unix_micros, windows, watermarks) expects TIMESTAMP
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# --- events.props "k" extraction -------------------------------------------
#
# props is the flat {"k": <scalar>} JSON payload. Extracting the k
# value token by regex instead of a full JSON parse halves the
# CPU-bound extraction stage (interleaved A/B at sf0.1: 0.62 -> 0.41 s
# through the similarity items pipeline). The full-token pattern
# ([^,}"]+ then TRY_CAST at the use site) keeps JSON-equivalent scalar
# semantics — "46.5" or "abc" still cast to NULL, never a partial
# numeric match (RE2 has no lookahead, so a digits-only pattern could
# not be mirrored safely in the DuckDB oracle). Written in the Java
# regex ∩ RE2 common subset so both engines extract identical strings;
# no-match maps to NULL on both sides via NULLIF.

PROPS_K_PATTERN = '"k":\\s*"?([^,}"]+)"?'


def props_k_col():
    from pyspark.sql import functions as F

    return F.nullif(
        F.regexp_extract("props", PROPS_K_PATTERN, 1), F.lit("")
    )


def props_k_sql() -> str:
    return f"NULLIF(regexp_extract(props, '{PROPS_K_PATTERN}', 1), '')"


# --- events item code -------------------------------------------------------
#
# An "item" is an (event_type, props.k) pair coded as one long:
# event-type index x 1000 + k. An unknown event type or unparseable k
# gives NULL, which callers drop.

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def item_code_col():
    from pyspark.sql import functions as F

    etype_idx = F.lit(None)
    for i, t in enumerate(EVENT_TYPES):
        etype_idx = F.when(F.col("event_type") == t, F.lit(i)).otherwise(etype_idx)
    return etype_idx.cast("long") * 1000 + props_k_col().cast("long")

"""The reference's event model, columnar: GCS object-finalize CloudEvents
normalized to rows and filtered with the exact accept/reject semantics of
``/root/reference/main.py:6-16``.

Reference behavior being re-expressed (cited for parity):
- ``main.py:6``  `data = event.data or {}`         → null-tolerant schema
- ``main.py:7-9`` `data.get("bucket"/"name"/"size")` → projection
- ``main.py:12`` accept iff name is non-null AND endswith '.xlsx' AND
  startswith 'minha-pasta/'
- ``main.py:13-14`` rejected events are logged and dropped
- ``main.py:16`` accepted events log "Novo XLSX: gs://{bucket}/{name}
  (size={size})"
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from etl_gcp_function_tmabrasil_spark.catalog import FILE_EVENTS_WIRE_SCHEMA

ACCEPT_PREFIX = "minha-pasta/"
ACCEPT_SUFFIX = ".xlsx"


def normalized_events(parsed: DataFrame, struct_col: str | None = "d") -> DataFrame:
    """Project wire-schema event fields onto the normalized model.

    GCS delivers `size` as a decimal STRING; try_cast lands it as long
    (NULL for absent/garbage values — the ``data.get`` defensiveness),
    because declaring LongType in the JSON schema would silently null
    every quoted number instead. ``struct_col=None`` normalizes a flat
    wire-schema frame (the streaming JSON reader) instead of a parsed
    struct column.
    """
    p = f"{struct_col}." if struct_col else ""
    return parsed.select(
        F.col(f"{p}bucket").alias("bucket"),
        F.col(f"{p}name").alias("name"),
        F.col(f"{p}size").try_cast("long").alias("size"),
        F.col(f"{p}ts").alias("ts"),
    )


def parse_cloud_events_json(spark: SparkSession, df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Parse raw CloudEvent JSON payloads into the file_events model.

    `from_json` returns null structs for malformed payloads and null
    fields for absent keys — the columnar twin of ``data.get(...)`` with
    ``event.data or {}`` (every field nullable, never a crash).
    """
    parsed = df.withColumn(
        "d", F.from_json(F.col(payload_col), FILE_EVENTS_WIRE_SCHEMA)
    )
    return normalized_events(parsed)


def _accepted() -> Column:
    """The accept predicate: a null-safe conjunctive path predicate,
    fully pushable when name is a physical column. Never NULL (a NULL
    name fails `isNotNull`, which makes the conjunction false), so its
    negation is exactly the reject side."""
    return (
        F.col("name").isNotNull()
        & F.col("name").endswith(ACCEPT_SUFFIX)
        & F.col("name").startswith(ACCEPT_PREFIX)
    )


def accept_filter(df: DataFrame) -> DataFrame:
    """Accepted events (``main.py:12`` negated)."""
    return df.filter(_accepted())


def reject_filter(df: DataFrame) -> DataFrame:
    """Rejected events (the ``main.py:13-14`` branch) — the dead-letter
    side; kept as a DataFrame so it can be routed to a rejected sink."""
    return df.filter(~_accepted())


def with_log_line(df: DataFrame) -> DataFrame:
    """The accept-side log projection (``main.py:16``)."""
    return df.withColumn(
        "log_line",
        F.format_string("Novo XLSX: gs://%s/%s (size=%s)", "bucket", "name", "size"),
    )


def with_reject_log_line(df: DataFrame) -> DataFrame:
    """The reject-side log projection (``main.py:13``)."""
    return df.withColumn("log_line", F.format_string("Ignorando objeto: %s", "name"))

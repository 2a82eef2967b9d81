"""Table catalog: schemas + loaders for the driver's parquet tables.

Tables (``TESTDATA.md``): TPC-H-ish star schema (``region nation customer
supplier part orders lineitem``) plus ``events`` (stream-shaped),
``documents`` and ``embeddings`` (LLM-pipeline tables).

Explicit ``StructType`` schemas are declared for the stream-shaped tables
(required by ``readStream``) and for the reference-derived ``file_events``
model (normalized CloudEvent payload, ``/root/reference/main.py:6-9``).
Batch parquet loads rely on parquet footers — self-describing, and the
vectorized reader + column pruning work without declared schemas.

Loaded frames and footer layouts are reused per SparkSession through
``operators/reuse.py``, stamped by each file's mtime and size, so a
table rewritten in place is re-read and its old slot released.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, types as T

from etl_gcp_function_tmabrasil_spark.operators.reuse import reuse

TABLES = [
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
]

#: Small dimension tables that should always be broadcast in joins.
BROADCAST_DIMS = {"region", "nation"}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Schema of the `events` table — declared for streaming replays
#: (readStream requires a user schema on file sources).
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)

#: Normalized CloudEvent payload for GCS object-finalize events — the
#: reference's unit of work (`/root/reference/main.py:6-9`): bucket, name,
#: size extracted defensively from a semi-structured dict (all nullable).
FILE_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.StringType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("size", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

#: Wire-format twin of FILE_EVENTS_SCHEMA: GCS delivers `size` as a
#: DECIMAL STRING ("123"), and Spark's JSON parser does NOT coerce a
#: quoted number into a LongType field (it nulls it). Every JSON parse
#: path must read the wire schema and try_cast size to long
#: (sources/file_events.normalized_events) to land on the normalized
#: model above.
FILE_EVENTS_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.StringType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("size", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: Auto-rebalance threshold. Measured at sf0.1 (all tables <= 11 MB):
#: inserting the round-robin exchange costs more than the parallelism it
#: buys whenever the table later feeds a broadcast (the exchange then
#: sits uselessly under a BroadcastExchange), so the guard only fires for
#: inputs big enough that a handful of scan tasks is catastrophic —
#: i.e. multi-GB tables written with too-few row groups.
_REBALANCE_MIN_ROWS = 5_000_000


def _layout_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    import glob

    # Recursive: partitioned directories nest part files under
    # key=value subdirectories.
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def _file_stamp(path: str) -> tuple:
    """(file, mtime_ns, size) per parquet file under `path`: the reuse
    stamp of everything derived from the files, so a table rewritten in
    place is re-read instead of served stale."""
    return tuple(
        (f, st.st_mtime_ns, st.st_size) for f in _layout_files(path) for st in (os.stat(f),)
    )


def _parquet_layout(spark: SparkSession, path: str) -> tuple[int, int]:
    """(total rows, parallel split units) for a parquet file or directory.

    A row group is the minimum decode unit: Spark assigns each row group
    to the input partition containing its midpoint, so a file with one
    giant row group is read by ONE task no matter how it is byte-split.
    The split-unit count is therefore the true scan parallelism bound.
    Footers are a few KB; reading them driver-side is how Spark itself
    plans the scan, and the result is reused per session until the
    files change.
    """

    def read_footers() -> tuple[int, int]:
        import pyarrow.parquet as pq

        rows = units = 0
        for f in _layout_files(path):
            md = pq.ParquetFile(f).metadata
            rows += md.num_rows
            units += md.num_row_groups
        return rows, units

    return reuse(spark, ("parquet_layout", path), _file_stamp(path), read_footers)


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    rebalance: bool | str | None = None,
) -> DataFrame:
    """Load one driver table. Plain parquet scan: vectorized read,
    predicate pushdown and column pruning all apply downstream.

    ``rebalance`` inserts an explicit round-robin ``repartition`` to the
    cluster's core count right above the scan. Default ``None`` decides
    from the parquet footer: a multi-million-row table whose file layout
    offers fewer row-group split units than half the cluster's cores
    would otherwise run its whole pre-shuffle pipeline (decode, filter,
    partial agg, UDFs) on a handful of tasks. At 100 TB a healthy layout
    has thousands of row groups and the rebalance never fires; it is a
    guard against pathological layouts (one giant row group), and
    filters still push through the repartition to the scan (verified in
    tests/test_plans.py). Benchmarked at sf0.1: below this size the
    extra exchange costs more than it buys (notably when the table later
    feeds a BroadcastExchange), so small/medium tables never rebalance;
    compute-heavy queries may still pass ``rebalance=True`` explicitly.

    ``rebalance="compute"`` is the variant for queries whose PER-ROW
    work is amplified far beyond scan cost (explode×K + per-row md5,
    per-char shingling, decimal ladders): it fires whenever the layout
    offers fewer row-group split units than the cluster's cores, with
    NO row-count minimum — a few-MB single-row-group table feeding a
    64× explode of md5s otherwise serializes seconds of CPU behind a
    one-task scan (guide §2: the cheap shuffle of the narrow input
    buys the whole pre-shuffle pipeline its parallelism). At scale a
    healthy layout (units >= cores) makes it a no-op, so the exchange
    never coalesces a wide scan.

    The `events` table is written with parquet TIMESTAMP(NANOS), which
    Spark's reader rejects by default; we read nanos as int64 (legacy
    conf) and floor-convert to microsecond timestamps — the same ns→µs
    truncation DuckDB applies, so oracle comparisons agree.
    """
    path = table_path(sf_dir, name)

    def read() -> DataFrame:
        if name == "events":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(path)
            from pyspark.sql import functions as F

            if dict(df.dtypes).get("ts") == "bigint":
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            df = spark.read.parquet(path)
        par = spark.sparkContext.defaultParallelism
        effective = rebalance
        if effective is None:
            try:
                rows, units = _parquet_layout(spark, path)
            except Exception:
                rows, units = 0, par
            effective = rows >= _REBALANCE_MIN_ROWS and units < max(2, par // 2)
        elif effective == "compute":
            try:
                _rows, units = _parquet_layout(spark, path)
            except Exception:
                units = par
            effective = units < par
        if effective:
            df = df.repartition(par)
        return df

    # Reuse the loaded frame per (session, path, rebalance) until the
    # files change: every spark.read.parquet() schedules a 1-task
    # schema-read job, so an uncached load_table costs one job per call
    # — hundreds of driver round-trips across a full registry run for
    # zero work. DataFrames are immutable, so handing back the same
    # object is safe.
    return reuse(spark, ("load_table", path, rebalance), _file_stamp(path), read)


def scan_spread_n(spark: SparkSession, sf_dir: str, name: str) -> int | None:
    """Cores to spread a compute-amplified scan over, or ``None``.

    Returns the cluster's core count when `name`'s parquet layout
    offers fewer row-group split units than cores (the one-giant-row-
    group pathology: the whole pre-shuffle pipeline — explode, md5,
    window sort — would run in a handful of tasks); ``None`` when the
    layout already feeds every core, so callers skip the repartition
    entirely at healthy scale. Use for KEYED spreads where the chosen
    key lets a downstream window/groupBy reuse the exchange
    (``df.repartition(n, key)``); for plain round-robin spreads prefer
    ``load_table(..., rebalance="compute")``.
    """
    par = spark.sparkContext.defaultParallelism
    try:
        _rows, units = _parquet_layout(spark, table_path(sf_dir, name))
    except Exception:
        return None
    return par if units < par else None


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register each table as a temp view so queries can use spark.sql."""
    for name in tables or TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)

"""Driver-checkable SOURCES / SINKS gate queries (SURVEY.md §2.2
"Sources / sinks") — each storage-layer edge proved value-exact
through the oracle gate, the same pattern as
`ingest_xlsx.xlsx_ingest_roundtrip`:

- `scan_csv_json_roundtrip` / `scan_orc_roundtrip`: the engine's
  text and ORC writers → schema-declared read-back (explicit
  `timestampFormat` with microsecond precision — the config the
  tz-pinning in session.py exists to keep roundtrip-safe); the
  oracle reads the same `events` slice straight from parquet, so
  hash equality proves each write→parse edge preserves longs,
  doubles, strings, and microsecond timestamps exactly.
- `sink_partitioned_roundtrip` / `sink_compaction_roundtrip`: the
  hive-partitioned events layout with directory pruning, and the
  small-files compaction swap (values AND one-file-per-partition
  both hash-checked).
- `scan_schema_evolution`: mergeSchema widening across write
  generations with null-filled history.
- `scan_cloudevent_datasource` / `stream_cloudevent_source`: the
  custom Python DataSource, batch and streaming readers, against one
  closed-form defensive-parse oracle.
- `sink_bucketed_colocated_join`: bucketBy pay-the-shuffle-once
  layout, exchange-free fact⨝fact join vs the plain-join oracle.
- `sink_incremental_rollup`: materialized mergeable partials + delta
  merge vs a from-scratch rollup oracle.

Each query builds its fixtures atomically via `_util.ensure_fixture`
in a directory it EXCLUSIVELY owns — a shared guard made fixture
existence depend on invocation order (caught round 6). That directory
is `_util.fixture_dir(sf_dir, name)`, under the one per-process root
that is deleted when the process exits. The small fabrications are
fixture plumbing; the operators under test are the engine's
distributed readers/writers themselves.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from etl_gcp_function_tmabrasil_spark.catalog import load_table
from etl_gcp_function_tmabrasil_spark.queries._util import (
    ensure_fixture as _ensure_fixture,
    fixture_dir,
)

_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)
_COLS = [f.name for f in _SCHEMA.fields]
_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_MAX_ID = 200


def scan_csv_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events slice → engine CSV + JSON writers → schema-declared
    read-back, union tagged by format."""
    # own fixture dir, NOT the shared per-sf root: the sibling gate
    # queries (partitioned/compaction/evolution) also create dirs under
    # root, so guarding on root made this fixture's existence depend on
    # invocation ORDER — whichever query ran first satisfied the guard
    # and the CSV/JSON dirs were never written (caught by
    # scripts/bench_gate_sf01.py running the sinks first).
    fixture = fixture_dir(sf_dir, "events_csvjson")
    csv_dir = os.path.join(fixture, "events_csv")
    json_dir = os.path.join(fixture, "events_json")

    def _build(tmp: str) -> None:
        sl = (
            load_table(spark, sf_dir, "events")
            .select(*_COLS)
            .filter(F.col("event_id") < _MAX_ID)
        )
        sl.write.option("header", True).option("timestampFormat", _TS_FMT).csv(
            os.path.join(tmp, "events_csv")
        )
        sl.write.option("timestampFormat", _TS_FMT).json(
            os.path.join(tmp, "events_json")
        )

    _ensure_fixture(fixture, _build)
    back_csv = (
        spark.read.schema(_SCHEMA)
        .option("header", True)
        .option("timestampFormat", _TS_FMT)
        .csv(csv_dir)
        .withColumn("fmt", F.lit("csv"))
    )
    back_json = (
        spark.read.schema(_SCHEMA)
        .option("timestampFormat", _TS_FMT)
        .json(json_dir)
        .withColumn("fmt", F.lit("json"))
    )
    return (
        back_csv.unionByName(back_json)
        .select(
            "fmt",
            "event_id",
            F.date_format("ts", _TS_FMT).alias("ts_s"),
            "user_id",
            "event_type",
            "value",
        )
        .orderBy("fmt", "event_id")
    )


_SCAN_SQL = f"""
SELECT f.fmt, e.event_id,
  strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
  e.user_id, e.event_type, e.value
FROM events e
CROSS JOIN (SELECT UNNEST(['csv', 'json']) AS fmt) f
WHERE e.event_id < {_MAX_ID}
ORDER BY f.fmt, e.event_id
"""


def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write → schema-declared read-back (the third columnar
    format edge after parquet and the CSV/JSON text pair): the same
    deterministic events slice lands through the engine's ORC writer
    and must read back value-exact — longs, doubles, strings, and
    microsecond timestamps. The DuckDB oracle reads the slice straight
    from parquet (DuckDB has no ORC reader; hash equality against the
    source-of-truth slice is exactly the roundtrip claim). Scale notes
    as scan_csv_json_roundtrip: per-stripe parallel scan, predicate
    pushdown and column pruning work as with parquet."""
    fixture = fixture_dir(sf_dir, "events_orc")

    def _build(tmp: str) -> None:
        (
            load_table(spark, sf_dir, "events")
            .select(*_COLS)
            .filter(F.col("event_id") < _MAX_ID)
            .write.orc(os.path.join(tmp, "data"))
        )

    _ensure_fixture(fixture, _build)
    return (
        spark.read.schema(_SCHEMA)
        .orc(os.path.join(fixture, "data"))
        .select(
            "event_id",
            F.date_format("ts", _TS_FMT).alias("ts_s"),
            "user_id",
            "event_type",
            "value",
        )
        .orderBy("event_id")
    )


_ORC_SQL = f"""
SELECT event_id,
  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
  user_id, event_type, value
FROM events
WHERE event_id < {_MAX_ID}
ORDER BY event_id
"""


def sink_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-partitioned parquet sink roundtrip with partition pruning
    on the read-back (`sinks/partitioned.py`): events land as
    `event_date=YYYY-MM-DD/` directories, and the query reads them
    back through a date-range filter that prunes at the directory
    level (the plan pin lives in tests/test_partitioned_sink.py; this
    gate proves the written VALUES survive the layout round trip)."""
    from etl_gcp_function_tmabrasil_spark.sinks.partitioned import (
        read_events_partitioned,
        write_events_partitioned,
    )

    path = fixture_dir(sf_dir, "events_partitioned")
    _ensure_fixture(
        path,
        lambda tmp: write_events_partitioned(
            load_table(spark, sf_dir, "events").select(*_COLS), tmp
        ),
    )
    from etl_gcp_function_tmabrasil_spark.queries._util import csum

    return (
        read_events_partitioned(spark, path)
        .filter(F.col("event_date").between("2024-01-10", "2024-01-20"))
        .groupBy(F.date_format("event_date", "yyyy-MM-dd").alias("event_date"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            csum("value").alias("sum_value"),
        )
        .orderBy("event_date")
    )


_PARTITIONED_SQL = """
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
  COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-20'
GROUP BY event_date
ORDER BY event_date
"""


#: One JSONL line per defensive-parse behavior of the custom DataSource
#: (sources/cloudevent_source.py — the reference's `.get` chain over
#: `data or {}`, ``/root/reference/main.py:6-9``): decimal-string size,
#: int size, malformed JSON, wrong-typed fields, absent keys, tz-offset
#: and tz-naive RFC 3339 timestamps.
_CE_LINES = [
    '{"bucket":"b","name":"minha-pasta/a.xlsx","size":"123",'
    '"time":"2024-01-01T00:00:00Z"}',
    '{"bucket":"b","name":"x.csv","size":42,'
    '"timeCreated":"2024-01-02T03:04:05+02:00"}',
    "this is not json",
    '{"name":null,"size":"abc"}',
    "{}",
    '{"bucket":7,"name":"y","size":true,"time":"bogus"}',
    '{"bucket":"b","name":"z","size":"0","time":"2024-01-03T10:00:00"}',
]


def scan_cloudevent_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom `cloudevent_jsonl` Python DataSource (Spark 4
    pyspark.sql.datasource API) through the oracle gate: a feed with
    one line per defensive-parse rule — malformed payloads, absent and
    wrong-typed keys, decimal-string sizes, offset and naive RFC 3339
    timestamps — must land as exactly the all-null / coerced rows the
    reference's semantics dictate. Closed-form VALUES oracle."""
    from etl_gcp_function_tmabrasil_spark.sources import cloudevent_source

    fixture = fixture_dir(sf_dir, "cloudevents")
    feed = os.path.join(fixture, "feed.jsonl")

    def _build(tmp: str) -> None:
        os.makedirs(tmp)
        with open(os.path.join(tmp, "feed.jsonl"), "w", encoding="utf-8") as fh:
            fh.write("\n".join(_CE_LINES) + "\n")

    _ensure_fixture(fixture, _build)
    cloudevent_source.register(spark)
    return (
        spark.read.format("cloudevent_jsonl")
        .load(feed)
        .select(
            "bucket",
            "name",
            "size",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        )
        .orderBy("bucket", "name", "size", "ts_s")
    )


_CLOUDEVENT_SQL = """
SELECT * FROM (VALUES
  ('b', 'minha-pasta/a.xlsx', CAST(123 AS BIGINT), '2024-01-01 00:00:00'),
  ('b', 'x.csv',              CAST(42 AS BIGINT),  '2024-01-02 01:04:05'),
  (CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR)),
  (CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR)),
  (CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR)),
  (CAST(NULL AS VARCHAR), 'y', CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR)),
  ('b', 'z', CAST(0 AS BIGINT), '2024-01-03 10:00:00')
) AS t(bucket, name, size, ts_s)
ORDER BY bucket, name, size, ts_s
"""


def stream_cloudevent_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom DataSource's STREAMING reader through the gate: the
    same seven defensive-parse CloudEvent lines, split across three
    lexicographically named feed files, replayed as a checkpointed
    availableNow stream (`sources/cloudevent_source.
    CloudEventStreamReader` — file-count offsets over an append-only
    feed, one InputPartition per newly admitted file) into a parquet
    sink. The oracle is the SAME closed-form VALUES table as the batch
    DataSource gate: streaming admission must change nothing about
    parse semantics, and the repeat invocation resumes the checkpoint
    with zero new files — restart yields the identical sink
    (exactly-once), not doubled rows."""
    # imported at call time so a patched `streaming_gate._drain` applies
    from etl_gcp_function_tmabrasil_spark.queries.streaming_gate import _drain
    from etl_gcp_function_tmabrasil_spark.sources import cloudevent_source

    root = fixture_dir(sf_dir, "cloudevents_stream")

    def _build(tmp: str) -> None:
        fd = os.path.join(tmp, "feed")
        os.makedirs(fd)
        chunks = [_CE_LINES[:3], _CE_LINES[3:5], _CE_LINES[5:]]
        for i, lines in enumerate(chunks):
            with open(
                os.path.join(fd, f"chunk_{i:03d}.jsonl"), "w", encoding="utf-8"
            ) as fh:
                fh.write("\n".join(lines) + "\n")

    _ensure_fixture(root, _build)
    cloudevent_source.register(spark)
    stream = spark.readStream.format("cloudevent_jsonl").load(
        os.path.join(root, "feed")
    )
    return (
        spark.read.parquet(_drain(stream, root))
        .select(
            "bucket",
            "name",
            "size",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        )
        .orderBy("bucket", "name", "size", "ts_s")
    )


def sink_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction (`sinks/partitioned.compact_partitions`)
    through the oracle gate: events are first written deliberately
    fragmented (8 writer tasks × 50-record file cap → hundreds of tiny
    files per date), then compacted via the staging-write +
    per-partition-swap protocol. The query returns the per-date rollup
    PLUS the per-partition file count measured with input_file_name():
    the oracle pins values unchanged AND exactly one file per date —
    the compaction invariant itself is hash-checked, not just the data
    round trip."""
    from etl_gcp_function_tmabrasil_spark.queries._util import csum
    from etl_gcp_function_tmabrasil_spark.sinks.partitioned import (
        compact_partitions,
        read_events_partitioned,
    )

    path = fixture_dir(sf_dir, "events_compacted")

    def _build(tmp: str) -> None:
        (
            load_table(spark, sf_dir, "events")
            .select(*_COLS)
            .withColumn("event_date", F.to_date("ts"))
            .repartition(8)
            .write.mode("overwrite")
            .option("maxRecordsPerFile", 50)
            .partitionBy("event_date")
            .parquet(tmp)
        )
        compact_partitions(spark, tmp)

    _ensure_fixture(path, _build)
    return (
        read_events_partitioned(spark, path)
        # projected first: Spark (rightly) rejects the non-deterministic
        # input_file_name() directly inside an aggregate argument
        .withColumn("_file", F.input_file_name())
        .groupBy(F.date_format("event_date", "yyyy-MM-dd").alias("event_date"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            csum("value").alias("sum_value"),
            F.countDistinct("_file").alias("n_files"),
        )
        .orderBy("event_date")
    )


_COMPACTION_SQL = """
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
  COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
  CAST(1 AS BIGINT) AS n_files
FROM events
GROUP BY event_date
ORDER BY event_date
"""


def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema evolution: two write generations of the events
    table — gen=1 before an `event_type` column existed, gen=2 with it
    — read as ONE dataset via mergeSchema, the old generation's rows
    carrying NULL for the later column. This is the append-only-table
    lifecycle every long-lived ingest hits (new fields added upstream;
    historical files never rewritten); the footer-merge must widen the
    schema without touching values."""
    root = fixture_dir(sf_dir, "events_evolution")

    def _build(tmp: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        (
            ev.filter(F.col("event_id") < 100)
            .select("event_id", "user_id", "value")
            .write.parquet(os.path.join(tmp, "gen=1"))
        )
        (
            ev.filter((F.col("event_id") >= 100) & (F.col("event_id") < 200))
            .select("event_id", "user_id", "value", "event_type")
            .write.parquet(os.path.join(tmp, "gen=2"))
        )

    _ensure_fixture(root, _build)
    return (
        spark.read.option("mergeSchema", True).parquet(root)
        .select("gen", "event_id", "user_id", "value", "event_type")
        .orderBy("gen", "event_id")
    )


_EVOLUTION_SQL = """
SELECT 1 AS gen, event_id, user_id, value, CAST(NULL AS VARCHAR) AS event_type
FROM events WHERE event_id < 100
UNION ALL
SELECT 2 AS gen, event_id, user_id, value, event_type
FROM events WHERE event_id >= 100 AND event_id < 200
ORDER BY gen, event_id
"""


def sink_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed (pre-shuffled) tables through the oracle gate: orders
    and lineitem are persisted with `bucketBy(8, orderkey)` + `sortBy`
    (`operators/bucketing.py` — the pay-the-shuffle-once storage layout
    for 100 TB fact⨝fact joins), then joined WITHOUT an exchange on
    either side (pinned by tests/test_plans.py::
    test_bucketed_gate_join_only_shuffles_the_rollup; the only exchange
    in the whole plan is the bounded-key priority rollup). The oracle
    runs the same join/rollup on the raw parquet — hash equality proves
    the bucketed layout is a pure physical optimization, byte-identical
    in results to the plain join.

    Table names are per-process (pid suffix): the session warehouse dir
    is a fixed /tmp path shared with any concurrent pytest process, and
    two writers overwriting one table mid-read is the same hazard
    `_util.fixture_dir` documents. The DATA lives under the
    per-process gate root (external-path tables), not the shared
    warehouse — pid-suffixed managed tables would leak two full table
    copies into the fixed dir per process forever (code-review r6)."""
    from etl_gcp_function_tmabrasil_spark.operators.bucketing import (
        read_bucketed,
        write_bucketed,
    )
    from etl_gcp_function_tmabrasil_spark.queries._util import dsum

    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    li_t = f"gate_li_bucketed_{sf_tag}_{os.getpid()}"
    ord_t = f"gate_ord_bucketed_{sf_tag}_{os.getpid()}"
    data_root = fixture_dir(sf_dir, "bucketed")
    if not spark.catalog.tableExists(li_t):
        write_bucketed(
            load_table(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_extendedprice", "l_discount"
            ),
            li_t,
            ["l_orderkey"],
            n_buckets=8,
            path=os.path.join(data_root, li_t),
        )
    if not spark.catalog.tableExists(ord_t):
        write_bucketed(
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderpriority"
            ),
            ord_t,
            ["o_orderkey"],
            n_buckets=8,
            path=os.path.join(data_root, ord_t),
        )
    li = read_bucketed(spark, li_t)
    ords = read_bucketed(spark, ord_t)
    return (
        li.hint("merge")
        .join(ords, li.l_orderkey == ords.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


_BUCKETED_JOIN_SQL = """
SELECT o.o_orderpriority, COUNT(*) AS n_lines,
  CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)))
       AS DOUBLE) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


#: event_id boundary between the materialized base and the delta batch.
_INCR_SPLIT_FRAC = 0.8


def sink_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance — the avoid-full-recompute
    pattern every 100 TB warehouse rollup needs: the HISTORICAL 80% of
    events is pre-aggregated ONCE into a materialized partial-rollup
    parquet (per (event_date, event_type): count + decimal-exact sum —
    mergeable partials, not finished averages), and the query merges
    only the 20% DELTA batch against it. The merged result must equal
    a from-scratch rollup over everything — which is exactly what the
    oracle computes. At 100 TB the base never rescans: each refresh
    costs O(delta) + O(affected groups), and the same shape maintains
    rolling daily/hourly marts.

    The base build is fixture plumbing (eager, one-time, same class as
    the bucketed-table write); the operator under test is the merge
    plan: delta-scan → partial agg → union with base scan → final agg
    on the SAME group key (one bounded shuffle)."""
    from etl_gcp_function_tmabrasil_spark.queries._util import dsum

    base_path = fixture_dir(sf_dir, "rollup_base")
    ev = load_table(spark, sf_dir, "events")
    max_id = ev.agg(F.max("event_id")).collect()[0][0] or 0
    split_id = int(max_id * _INCR_SPLIT_FRAC)

    def _partials(df: DataFrame) -> DataFrame:
        return (
            df.groupBy(
                F.to_date("ts").alias("event_date"),
                "event_type",
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_value"),
            )
        )

    _ensure_fixture(
        base_path,
        lambda tmp: _partials(ev.filter(F.col("event_id") < split_id))
        .write.parquet(tmp),
    )
    base = spark.read.parquet(base_path)
    delta = _partials(ev.filter(F.col("event_id") >= split_id))
    return (
        base.unionByName(delta)
        .groupBy("event_date", "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_value").cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("event_date", "yyyy-MM-dd").alias("event_date"),
            "event_type",
            "n",
            "sum_value",
        )
        .orderBy("event_date", "event_type")
    )


_INCREMENTAL_SQL = """
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date, event_type,
  COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_date, event_type
ORDER BY event_date, event_type
"""


_BIN_MAX_DOC = 60


def scan_binaryfile_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-file ingestion — the raw-asset edge a multimodal corpus
    enters through (image/audio blobs in an object store, one file per
    asset; the decode stage downstream is operators/multimodal.py).
    Spark's `binaryFile` source lists the directory in parallel, packs
    whole files into read tasks by size (`maxPartitionBytes` /
    `openCostInBytes` — files are never split, so the listing is the
    parallelism unit), and supports pushed filters on the metadata
    columns (path/length/modificationTime) plus `pathGlobFilter`
    pruning at LISTING time — non-matching files are never opened.

    The fixture writes each documents row (doc_id < _BIN_MAX_DOC) as a
    standalone `.bin` file holding the text's utf-8 bytes, plus a
    decoy README.txt the glob must exclude. The projection proves the
    CONTENT bytes survive ingestion exactly — length, md5, and a
    decoded head — because the oracle recomputes all three from the
    `documents` view (DuckDB md5 over the same utf-8 text; a stale,
    truncated, or reordered read cannot hash-match). Fixture writes
    are driver-side plumbing over a bounded slice; the operator under
    test is the engine's distributed binary reader.
    """
    fixture = fixture_dir(sf_dir, "binfiles")

    def _build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        rows = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < _BIN_MAX_DOC)
            .select("doc_id", "text")
            .collect()
        )
        for r in rows:
            with open(os.path.join(tmp, f"doc_{r.doc_id:05d}.bin"), "wb") as fh:
                fh.write(r.text.encode("utf-8"))
        with open(os.path.join(tmp, "README.txt"), "w") as fh:
            fh.write("decoy: the pathGlobFilter must exclude this file\n")

    _ensure_fixture(fixture, _build)
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(fixture)
        .select(
            F.regexp_extract("path", r"doc_(\d+)\.bin$", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("length").alias("n_bytes"),
            F.md5("content").alias("content_md5"),
            F.substring(F.decode("content", "UTF-8"), 1, 16).alias("text_head"),
        )
        .orderBy("doc_id")
    )


_BINARYFILE_SQL = f"""
SELECT doc_id,
  CAST(strlen(text) AS BIGINT) AS n_bytes,
  md5(text) AS content_md5,
  substr(text, 1, 16) AS text_head
FROM documents
WHERE doc_id < {_BIN_MAX_DOC}
ORDER BY doc_id
"""


_Z_BITS = 4       # bits per dimension in the interleave (8-bit z keys).
#                   Both dimensions are bucketed to the SAME bit width
#                   so neither dominates the curve: with asymmetric
#                   entropy (e.g. 4 bits of users vs 5 bits of days,
#                   the sf0.001 shape) the high bits of the wider
#                   dimension decide the sort and the layout degrades
#                   to a single-dimension order for the narrow one.
_Z_FILES = 16     # z-range partitions = files written


#: Bit-interleave of two _Z_BITS-wide bucket columns `xb`/`yb` into a
#: Morton (Z-curve) key — pure integer bit math so the DuckDB oracle
#: reproduces it digit-exact.
_Z_EXPR = (
    f"aggregate(sequence(0, {_Z_BITS - 1}), 0, (acc, i) -> acc"
    " + shiftleft(shiftright(xb, i) & 1, 2 * i)"
    " + shiftleft(shiftright(yb, i) & 1, 2 * i + 1))"
)


def sink_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (space-filling-curve) layout — the multi-dimensional
    data-skipping organization Delta's OPTIMIZE ZORDER and Hudi's
    clustering provide, built from Spark primitives: bucket the two
    query dimensions (user and day-of-year) to _Z_BITS bits each,
    bit-interleave them into a Morton key, and lay the data out by
    curve PREFIX — one hive partition directory per top-_Z_BITS z
    value, rows z-sorted within each file. Every directory is then an
    EXACT rectangle of (user, day) space (prefix = top-half bits of
    both dimensions), so a selective predicate on EITHER dimension
    intersects only the directories whose rectangle covers it, where a
    single-dimension sort order skips files for that dimension only —
    and because the prefix is a partition column, prefix-expressible
    predicates prune whole directories before any file opens. The
    skipping claim is measured, not asserted: tests/
    test_zorder_layout.py writes the same rows time-sorted and counts
    files whose [min, max] user-bucket range intersects a narrow
    predicate — all of them for the time-sorted baseline, a
    deterministically bounded minority for the z layout.

    The gate projection reads the layout back and returns each event's
    buckets and Morton key; the oracle recomputes the interleave from
    the `events` view with DuckDB integer bit math, so hash equality
    proves the bucket derivation, the bit interleave, AND the
    write→read roundtrip are all value-exact.

    Scale shape: the layout costs ONE shuffle on the z prefix at write
    time (the same price as any partitioned write) and nothing at read
    time; at 100 TB the directory rectangles are what partition
    pruning skips on, row-group min/max on the z-sorted files skip
    within a rectangle, and file count scales with data under
    `maxRecordsPerFile` without changing the rectangle property. Curve
    choice is swappable (Hilbert interleaves with one fewer
    discontinuity) — the operator's contract is only "key =
    deterministic interleave of bounded buckets".
    """
    fixture = fixture_dir(sf_dir, "zorder")

    def _build(tmp: str) -> None:
        ev = (
            load_table(spark, sf_dir, "events")
            .select(
                "event_id",
                "user_id",
                "ts",
                (F.col("user_id") % (1 << _Z_BITS)).cast("int").alias("xb"),
                (F.dayofyear("ts") % (1 << _Z_BITS)).cast("int").alias("yb"),
            )
            .withColumn("z", F.expr(_Z_EXPR))
        )
        # one directory per curve PREFIX (the top _Z_BITS of z = the
        # top-half bits of each dimension): every directory is an
        # EXACT (user, day) rectangle — deterministic min/max spans,
        # no range-sampling drift — and the prefix is a hive partition
        # column, so prefix predicates prune whole directories before
        # any file is opened. Rows sort by full z within each file for
        # row-group-level skipping inside the rectangle.
        (
            ev.withColumn("zq", F.expr(f"shiftright(z, {_Z_BITS})"))
            .repartition(_Z_FILES, "zq")
            .sortWithinPartitions("zq", "z")
            .write.partitionBy("zq")
            .parquet(os.path.join(tmp, "zorder"))
        )
        # single-dimension (time-sorted) baseline for the skipping test
        ev.repartitionByRange(_Z_FILES, "ts").sortWithinPartitions("ts").write.parquet(
            os.path.join(tmp, "tsorted")
        )

    _ensure_fixture(fixture, _build)
    return (
        spark.read.parquet(os.path.join(fixture, "zorder"))
        .select(
            "event_id",
            F.col("xb").cast("long").alias("xb"),
            F.col("yb").cast("long").alias("yb"),
            F.col("z").cast("long").alias("z"),
        )
        .orderBy("event_id")
    )


_ZORDER_SQL = f"""
WITH b AS (
  SELECT event_id,
    CAST(user_id % 16 AS INT) AS xb,
    CAST(dayofyear(ts) % 16 AS INT) AS yb
  FROM events
)
SELECT event_id, CAST(xb AS BIGINT) AS xb, CAST(yb AS BIGINT) AS yb,
  CAST(list_sum([(((xb >> i) & 1) << (2 * i)) + (((yb >> i) & 1) << (2 * i + 1))
                 FOR i IN range({_Z_BITS})]) AS BIGINT) AS z
FROM b
ORDER BY event_id
"""


def join_dpp_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning — the join-driven companion of the
    static directory pruning `sink_partitioned_roundtrip` pins: when a
    date-partitioned fact joins a dimension whose FILTER is on a
    non-join column, no static predicate on the partition column
    exists at plan time, yet the scan must still skip directories.
    Catalyst inserts a dynamic pruning subquery — the dim side's
    broadcast result doubles as the fact scan's partition filter at
    RUNTIME (`dynamicpruningexpression` in the scan's
    PartitionFilters; pinned by tests/test_plans.py::
    test_dpp_prunes_fact_partitions_at_runtime). At 100 TB this is
    the star-schema workhorse: a "first week of month" dim filter
    touches ~1/6 of fact directories without anyone spelling the
    dates out.

    The query: fact = the hive-partitioned events layout; dim = the
    distinct calendar derived from `events` with a day-of-month
    attribute, filtered to days 1–5; join on event_date, roll up per
    date. The oracle computes the same rollup straight from `events`,
    so hash equality proves the runtime-pruned scan read exactly the
    right partitions — a wrongly pruned directory loses rows, an
    unpruned-but-misjoined plan duplicates them.
    """
    from etl_gcp_function_tmabrasil_spark.queries._util import csum
    from etl_gcp_function_tmabrasil_spark.sinks.partitioned import (
        write_events_partitioned,
    )

    fixture = fixture_dir(sf_dir, "events_dpp")
    _ensure_fixture(
        fixture,
        lambda tmp: write_events_partitioned(
            load_table(spark, sf_dir, "events").select(*_COLS),
            os.path.join(tmp, "data"),
        ),
    )
    fact = spark.read.parquet(os.path.join(fixture, "data"))
    dim = (
        load_table(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("event_date"))
        .distinct()
        .withColumn("day_num", F.dayofmonth("event_date"))
        .filter(F.col("day_num") <= 5)
    )
    return (
        fact.join(dim, "event_date")
        .groupBy("event_date")
        .agg(F.count(F.lit(1)).alias("n"), csum("value").alias("sum_value"))
        .select(
            F.date_format("event_date", "yyyy-MM-dd").alias("event_date"),
            "n",
            "sum_value",
        )
        .orderBy("event_date")
    )


#: XML's default timestamp render truncates to milliseconds — the
#: explicit microsecond format (write AND read) is what makes the
#: roundtrip value-exact (measured: 778549 µs -> 778000 µs without it)
_XML_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"


def scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML write → schema-declared read-back (Spark 4's built-in XML
    source — the fourth format edge after parquet/ORC, CSV/JSON and
    the custom JSONL connector): the same deterministic events slice
    lands as ``<event>`` row elements and must read back value-exact.
    Timestamps carry an explicit microsecond ``timestampFormat`` on
    BOTH sides — XML's default render truncates to milliseconds, the
    format-specific precision trap this gate exists to pin. The
    DuckDB oracle reads the slice straight from parquet (DuckDB has
    no XML reader; hash equality against the source-of-truth slice IS
    the roundtrip claim). Scale notes: rowTag-delimited elements
    split per file like the JSON source; XML is the interchange edge,
    not a columnar analytics format — no pushdown, read it once and
    land parquet."""
    fixture = fixture_dir(sf_dir, "events_xml")

    def _build(tmp: str) -> None:
        (
            load_table(spark, sf_dir, "events")
            .select(*_COLS)
            .filter(F.col("event_id") < _MAX_ID)
            .write.option("rowTag", "event")
            .option("timestampFormat", _XML_TS_FMT)
            .xml(os.path.join(tmp, "data"))
        )

    _ensure_fixture(fixture, _build)
    return (
        spark.read.schema(_SCHEMA)
        .option("rowTag", "event")
        .option("timestampFormat", _XML_TS_FMT)
        .xml(os.path.join(fixture, "data"))
        .select(
            "event_id",
            F.date_format("ts", _TS_FMT).alias("ts_s"),
            "user_id",
            "event_type",
            "value",
        )
        .orderBy("event_id")
    )


_XML_SQL = f"""
SELECT event_id,
  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
  user_id, event_type, value
FROM events
WHERE event_id < {_MAX_ID}
ORDER BY event_id
"""


def sink_cloudevent_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITER half of the custom Python DataSource
    (`sources/cloudevent_source.CloudEventWriter` — Spark 4
    ``pyspark.sql.datasource`` write API): derive a file-event frame
    from `events` (bucket = user bucket, name = per-event object key,
    size = the GCS decimal-string convention, ts), write it through
    ``df.write.format("cloudevent_jsonl")`` — executor-parallel tasks
    staging to hidden uniquely-named files, driver-side commit
    renaming them visible (the two-phase protocol; failed attempts
    never surface because the reader prunes hidden names) — then read
    it back with the custom batch READER and roll up per bucket. The
    oracle computes the same rollup straight from `events`, so hash
    equality proves the full writer→reader round trip: every row
    written exactly once, size surviving the string coercion, ts the
    RFC 3339 render/parse."""
    from etl_gcp_function_tmabrasil_spark.sources import cloudevent_source

    fixture = fixture_dir(sf_dir, "cloudevent_sink")

    def _build(tmp: str) -> None:
        out = os.path.join(tmp, "out")
        os.makedirs(out)
        cloudevent_source.register(spark)
        fe = load_table(spark, sf_dir, "events").select(
            F.concat(F.lit("b"), (F.col("user_id") % 3).cast("string")).alias(
                "bucket"
            ),
            F.concat(
                F.lit("obj/"), F.col("event_id").cast("string"), F.lit(".xlsx")
            ).alias("name"),
            (F.col("event_id") % 10000).alias("size"),
            F.col("ts"),
        )
        fe.write.format("cloudevent_jsonl").mode("append").save(out)

    _ensure_fixture(fixture, _build)
    cloudevent_source.register(spark)
    fe = spark.read.format("cloudevent_jsonl").load(
        os.path.join(fixture, "out")
    )
    return (
        fe.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("size").alias("sum_size"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "max_ts_s"
            ),
        )
        .orderBy("bucket")
    )


_CLOUDEVENT_SINK_SQL = """
SELECT 'b' || CAST(user_id % 3 AS VARCHAR) AS bucket,
  COUNT(*) AS n,
  CAST(SUM(event_id % 10000) AS BIGINT) AS sum_size,
  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS max_ts_s
FROM events
GROUP BY bucket
ORDER BY bucket
"""


#: confs flipped (and restored) around the bloom-gate execution: the
#: application-side size floor exists for real clusters (don't build a
#: bloom filter to save a scan smaller than the filter); the test
#: corpus sits under it, so the gate floors it at 0. Broadcast is
#: disabled because the rule targets SHUFFLE joins — a broadcast join
#: already ships the filtered dim to every task.
_BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def bloom_filtered_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join the bloom gate executes: urgent orders (selective
    filter on the creation side) ⨝ lineitem (application side), per
    returnflag revenue rollup. Built lazily; callers decide the confs
    in force when it runs."""
    from etl_gcp_function_tmabrasil_spark.queries._util import dsum

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


def join_runtime_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE runtime bloom-filter join pruning (InjectRuntimeFilter) —
    the shuffle-join twin of dynamic partition pruning above: when a
    selective dim filter sits on a NON-join column and the fact side
    is not partitioned by the join key, no static or partition prune
    exists, yet most fact rows still die at the scan. Catalyst builds
    a `bloom_filter_agg` over the filtered dim's join keys and injects
    `might_contain(...)` into the fact scan's filter, so non-matching
    rows are dropped BEFORE the shuffle — at 100 TB this turns a
    full-fact exchange into an exchange of the ~matching subset, the
    difference between a join that fits and one that spills.

    The gate EXECUTES the join under the bloom regime (fixture write,
    confs restored after — `_BLOOM_CONFS` documents the two flips) and
    HARD-FAILS construction if the executed plan lacks the injected
    `might_contain` filter: bloom pruning is semantics-preserving, so
    a silently-vanished injection could never turn the oracle red —
    the plan check is the gate. The oracle recomputes the rollup from
    the raw tables; hash equality proves pruning dropped no rows
    (false positives pass the filter and die in the join; false
    negatives cannot exist by the bloom contract).
    """
    fixture = fixture_dir(sf_dir, "bloom_join")

    def _build(tmp: str) -> None:
        saved = {k: spark.conf.get(k) for k in _BLOOM_CONFS}
        try:
            for k, v in _BLOOM_CONFS.items():
                spark.conf.set(k, v)
            joined = bloom_filtered_revenue(spark, sf_dir)
            plan = joined._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            if "might_contain" not in plan or "bloom_filter_agg" not in plan:
                raise RuntimeError(
                    "runtime bloom filter was NOT injected into the join plan"
                )
            joined.write.parquet(os.path.join(tmp, "data"))
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)

    _ensure_fixture(fixture, _build)
    return (
        spark.read.parquet(os.path.join(fixture, "data"))
        .orderBy("l_returnflag")
    )


_BLOOM_JOIN_SQL = """
SELECT l_returnflag, COUNT(*) AS n_items,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
       AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


_DPP_SQL = """
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
  COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events
WHERE day(CAST(ts AS DATE)) <= 5
GROUP BY event_date
ORDER BY event_date
"""


def sink_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-isolated table sink with TIME TRAVEL
    (`sinks/snapshot.py` — the manifest-file core of Iceberg/Delta
    from primitives): data files become visible only through an
    atomically renamed manifest, every committed version stays
    readable, and orphan files from crashed commits are structurally
    invisible because no manifest names them.

    The gate commits v1 (two thirds of events), appends v2 (the rest),
    PLANTS an orphan parquet file in data/ (a simulated crashed
    commit) plus a half-written manifest temp, then reads BOTH
    versions back and rolls each up per event_type. The oracle
    recomputes the two rollups from the base table with the same
    split predicate — if the orphan leaked into either read, or the
    append lost/duplicated carried-forward files, the counts and
    decimal sums cannot match.
    """
    from etl_gcp_function_tmabrasil_spark.queries._util import dsum
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        commit_snapshot,
        read_snapshot,
    )

    fixture = fixture_dir(sf_dir, "snapshot_table")

    def _build(tmp: str) -> None:
        table = os.path.join(tmp, "table")
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        v1 = commit_snapshot(ev.filter(F.col("event_id") % 3 != 0), table)
        v2 = commit_snapshot(
            ev.filter(F.col("event_id") % 3 == 0), table, mode="append"
        )
        if (v1, v2) != (1, 2):
            raise RuntimeError(f"unexpected snapshot versions: {(v1, v2)}")
        # crashed-commit residue: an orphan data file no manifest names
        # and a half-written manifest temp — both must stay invisible
        ev.limit(5).write.parquet(os.path.join(table, "data", "orphan"))
        with open(
            os.path.join(table, ".manifest_v3.json.tmp"), "w"
        ) as fh:
            fh.write('{"version": 3, "files": ["garbage"]')

        def rollup(version: int):
            return (
                read_snapshot(spark, table, version)
                .groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    dsum("value", 4).alias("sum_value"),
                )
                .select(F.lit(version).alias("version"), "*")
            )

        rollup(1).unionByName(rollup(2)).write.parquet(
            os.path.join(tmp, "out")
        )

    _ensure_fixture(fixture, _build)
    return (
        spark.read.parquet(os.path.join(fixture, "out"))
        .orderBy("version", "event_type")
    )


_SNAPSHOT_SQL = """
SELECT 1 AS version, event_type, COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events WHERE event_id % 3 <> 0
GROUP BY event_type
UNION ALL
SELECT 2 AS version, event_type, COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type
ORDER BY version, event_type
"""


def sink_snapshot_empty_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-versioned snapshot manifests (`sinks/snapshot.py`): every
    committed version stays READABLE — including an EMPTY snapshot
    (overwrite 'logical truncate'), which reads back as an empty
    DataFrame with the manifest's recorded schema — and append-time
    schema drift is REJECTED explicitly instead of delegated to
    parquet's silent merge. Iceberg/Delta version the schema in table
    metadata for exactly these two failure modes.

    The gate commits v1 (events with event_id % 4 < 2), overwrites v2
    with an EMPTY slice (logical truncate), hard-checks that v2 reads
    back with zero rows AND the exact recorded schema, hard-checks
    that a drifted append (value renamed) raises, then appends v3 (the
    % 4 >= 2 complement) onto the empty snapshot. Output = per-type
    rollups of v1 and v3 plus v2's genuine computed global count row —
    if empty read-back raised, drift slipped through, or the append
    onto an empty snapshot lost rows, the gate cannot match.
    """
    from etl_gcp_function_tmabrasil_spark.queries._util import dsum
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        commit_snapshot,
        read_snapshot,
    )

    fixture = fixture_dir(sf_dir, "snapshot_empty")

    def _build(tmp: str) -> None:
        table = os.path.join(tmp, "table")
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        v1 = commit_snapshot(ev.filter(F.col("event_id") % 4 < 2), table)
        v2 = commit_snapshot(ev.limit(0), table, mode="overwrite")
        empty = read_snapshot(spark, table, v2)
        got_sig = [(f.name, f.dataType.simpleString()) for f in empty.schema]
        want_sig = [(f.name, f.dataType.simpleString()) for f in ev.schema]
        if got_sig != want_sig:
            raise RuntimeError(
                f"empty snapshot schema drifted: {got_sig} != {want_sig}"
            )
        try:
            commit_snapshot(
                ev.withColumnRenamed("value", "amount"),
                table,
                mode="append",
            )
        except ValueError:
            pass
        else:
            raise RuntimeError("drifted append was not rejected")
        v3 = commit_snapshot(
            ev.filter(F.col("event_id") % 4 >= 2), table, mode="append"
        )
        if (v1, v2, v3) != (1, 2, 3):
            raise RuntimeError(f"unexpected versions: {(v1, v2, v3)}")

        def rollup(version: int):
            return (
                read_snapshot(spark, table, version)
                .groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    dsum("value", 4).alias("sum_value"),
                )
                .select(F.lit(version).alias("version"), "*")
            )

        # v2's row is COMPUTED from the empty read (global agg over an
        # empty typed frame), not a literal — proving the read works
        v2_row = (
            read_snapshot(spark, table, v2)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(dsum("value", 4), F.lit(0.0)).alias("sum_value"),
            )
            .select(
                F.lit(2).alias("version"),
                F.lit("__empty__").alias("event_type"),
                "n",
                "sum_value",
            )
        )
        rollup(1).unionByName(v2_row).unionByName(rollup(3)).write.parquet(
            os.path.join(tmp, "out")
        )

    _ensure_fixture(fixture, _build)
    return (
        spark.read.parquet(os.path.join(fixture, "out"))
        .orderBy("version", "event_type")
    )


_SNAPSHOT_EMPTY_SQL = """
SELECT 1 AS version, event_type, COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events WHERE event_id % 4 < 2
GROUP BY event_type
UNION ALL
SELECT 2 AS version, '__empty__' AS event_type, 0 AS n, 0.0 AS sum_value
UNION ALL
SELECT 3 AS version, event_type, COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events WHERE event_id % 4 >= 2
GROUP BY event_type
ORDER BY version, event_type
"""

def sink_snapshot_stats_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest MIN/MAX file skipping on the snapshot sink
    (`sinks/snapshot.py:snapshot_files`) — the Iceberg/Delta data-
    skipping contract: a commit records per-file column stats
    (one metadata-sized aggregation folded into the commit), and a
    pruned read hands Spark ONLY the files whose [min, max] intersects
    the predicate range. Pruning is driver-side interval math over the
    manifest; no data is scanned to decide, and the residual row
    filter still applies (stats skip FILES, not rows).

    The gate commits events clustered on event_id
    (`repartitionByRange(8)` → each file a contiguous id range) with
    stats, HARD-CHECKS that the pruned file list for the scale-
    relative range event_id ∈ [max//4, max//2] is a strict, non-empty
    subset of the full list (raises otherwise — the skip must actually
    happen, at every sf the gate runs at), then rolls up the
    pruned+filtered read per event_type. The oracle computes the same
    rollup from the base table — a pruned-away file that was actually
    needed, or a leaked row from an unfiltered kept file, cannot
    hash-match.
    """
    from etl_gcp_function_tmabrasil_spark.queries._util import dsum
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        commit_snapshot,
        read_snapshot,
        snapshot_files,
    )

    fixture = fixture_dir(sf_dir, "snapshot_stats")

    def _build(tmp: str) -> None:
        table = os.path.join(tmp, "table")
        base = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        # bounded scalar sentinel, off the hot path (fixture build)
        max_id = base.agg(F.max("event_id")).collect()[0][0]
        lo, hi = max_id // 4, max_id // 2
        ev = base.repartitionByRange(8, "event_id")
        commit_snapshot(ev, table, stats_cols=["event_id"])
        total = snapshot_files(table)
        pruned = snapshot_files(table, prune={"event_id": (lo, hi)})
        if not pruned or len(pruned) >= len(total):
            raise RuntimeError(
                f"stats pruning did not skip files: {len(pruned)} of "
                f"{len(total)} kept for [{lo}, {hi}]"
            )
        (
            read_snapshot(spark, table, prune={"event_id": (lo, hi)})
            .filter(F.col("event_id").between(lo, hi))
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                dsum("value", 4).alias("sum_value"),
            )
            .write.parquet(os.path.join(tmp, "out"))
        )

    _ensure_fixture(fixture, _build)
    return (
        spark.read.parquet(os.path.join(fixture, "out")).orderBy("event_type")
    )


_SNAPSHOT_STATS_SQL = """
SELECT event_type, COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events
WHERE event_id BETWEEN (SELECT CAST(FLOOR(MAX(event_id) / 4) AS BIGINT)
                        FROM events)
                   AND (SELECT CAST(FLOOR(MAX(event_id) / 2) AS BIGINT)
                        FROM events)
GROUP BY event_type
ORDER BY event_type
"""


#: confs flipped (and restored) around the skew-gate execution. The
#: byte thresholds exist for real clusters (default 256 MB skewed-
#: partition floor, 64 MB advisory split target); the planted-skew
#: corpus is MBs, so the gate lowers them — the RULE under test
#: (OptimizeSkewedJoin) is stock. Broadcast is disabled because skew
#: splitting only applies to shuffle joins (a broadcast join has no
#: reduce partition to split — and the 6-row dim would broadcast).
_SKEW_CONFS = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8192",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4096",
}


def skewed_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join the skew gate executes: lineitem with a PLANTED hot key
    (~90 % of rows land on skew_key 0 — the classic one-customer /
    one-tenant pathology) ⨝ a 6-row nation dim, per-nation revenue
    rollup. `repartition(8)` gives the join's map side 8 tasks — skew
    splits are mapper-range granular, and at sf0.01 the whole table
    otherwise arrives as ONE map block that cannot be split (a real
    cluster gets this for free from multi-file scans). Detection reads
    COMPRESSED shuffle bytes: the price column's distinct doubles keep
    the hot block above the lowered floor, where a key-only payload
    (54k copies of the same long) lz4-compresses under it. Built
    lazily; callers decide the confs in force when it runs."""
    from etl_gcp_function_tmabrasil_spark.queries._util import dsum

    li = load_table(spark, sf_dir, "lineitem")
    fact = li.repartition(8).select(
        F.when(F.col("l_orderkey") % 10 < 9, F.lit(0))
        .otherwise(F.pmod(F.col("l_orderkey"), F.lit(5)) + 1)
        .cast("long")
        .alias("skew_key"),
        "l_extendedprice",
    )
    dim = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_nationkey") <= 5)
        .select(
            F.col("n_nationkey").cast("long").alias("skew_key"), "n_name"
        )
    )
    return (
        fact.join(dim, "skew_key")
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_extendedprice", 4).alias("revenue"),
        )
        .orderBy("n_name")
    )


def join_skew_aqe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE skew-join splitting (OptimizeSkewedJoin) — the runtime
    answer to the hot-key join the manual salting operators
    (`operators/skew.py`) solve by hand: when one reduce partition of a
    shuffle join dwarfs the median, AQE splits it into mapper-range
    slices and duplicates the matching partition of the other side, so
    the hot key runs as N parallel tasks instead of one straggler — at
    100 TB the difference between a join bounded by the cluster and one
    bounded by a single task (and the salting operators stay for the
    cases AQE can't see: skewed AGGREGATION and pre-shuffle placement).

    The gate EXECUTES the join under the skew regime (collect inside
    the fixture build, confs restored after — `_SKEW_CONFS` documents
    the flips) and HARD-FAILS construction if the EXECUTED plan's
    AQEShuffleRead is not marked `skewed`: the split is semantics-
    preserving, so a silently-vanished optimization could never turn
    the oracle red — the post-execution plan check is the gate (AQE
    plans finalize at runtime; a pre-execution check can't see the
    split). The oracle recomputes the rollup from the raw tables; hash
    equality proves the split dropped and duplicated no rows."""
    fixture = fixture_dir(sf_dir, "skew_join")

    def _build(tmp: str) -> None:
        saved = {k: spark.conf.get(k) for k in _SKEW_CONFS}
        try:
            for k, v in _SKEW_CONFS.items():
                spark.conf.set(k, v)
            joined = skewed_nation_revenue(spark, sf_dir)
            joined.collect()  # AQE finalizes the plan at execution
            plan = joined._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "simple"
                )
            )
            # anchored to the AQEShuffleRead node, not a bare substring
            # search — an unrelated 'skewed' elsewhere in future plan
            # text must not satisfy the gate
            if not any(
                "AQEShuffleRead" in ln and "skewed" in ln
                for ln in plan.splitlines()
            ):
                raise RuntimeError(
                    "AQE skew-join split did NOT fire: no AQEShuffleRead "
                    "is marked 'skewed' in the executed plan"
                )
            joined.write.parquet(os.path.join(tmp, "data"))
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)

    _ensure_fixture(fixture, _build)
    return spark.read.parquet(os.path.join(fixture, "data")).orderBy("n_name")


_SKEW_JOIN_SQL = """
SELECT n_name, COUNT(*) AS n_items,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM (
  SELECT CASE WHEN l_orderkey % 10 < 9 THEN 0
              ELSE l_orderkey % 5 + 1 END AS skew_key,
         l_extendedprice
  FROM lineitem
) f
JOIN (
  SELECT CAST(n_nationkey AS BIGINT) AS skew_key, n_name
  FROM nation WHERE n_nationkey <= 5
) d USING (skew_key)
GROUP BY n_name
ORDER BY n_name
"""


_N_CORRUPT = 17  #: planted malformed lines


def scan_json_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE JSON ingestion with corrupt-record routing — the
    real-world NDJSON contract: a feed mixing valid event lines with
    malformed ones must load the valid rows, capture the bad lines in
    `columnNameOfCorruptRecord`, and never abort the job (the same
    accept/reject split the reference's landing filter implements for
    whole events — `/root/reference/main.py` routes, this routes at
    the PARSER level).

    Hard-checks in the EXECUTED read: the corrupt-row count equals the
    planted count (raises otherwise), exercising the Spark quirk that
    a filter touching ONLY the corrupt column requires the parsed
    frame to be materialized first (cached) — the raw-text column is
    not derivable once the parser dropped the line.

    Scale: schema-declared JSON scan, file-parallel; the corrupt
    branch adds one cached pass, and the valid projection prunes the
    corrupt column immediately.
    """
    fixture = fixture_dir(sf_dir, "events_json_corrupt")
    data_dir = os.path.join(fixture, "data")

    def _build(tmp: str) -> None:
        sl = (
            load_table(spark, sf_dir, "events")
            .select(*_COLS)
            .filter(F.col("event_id") < _MAX_ID)
            # pin ts to TIMESTAMP_LTZ regardless of session confs: in a
            # session without the engine's inferTimestampNTZ pin the
            # parquet ts loads as NTZ, the JSON writer then renders it
            # with timestampNTZFormat (ISO 'T', ms) instead of
            # timestampFormat, and the declared-LTZ read-back marks
            # EVERY line corrupt (measured; 217 != 17)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        sl.write.option("timestampFormat", _TS_FMT).json(
            os.path.join(tmp, "data")
        )
        # one extra part file of deterministic garbage lines — real
        # feeds interleave them; directory-level read sees all files
        bad = "\n".join(
            f'{{"event_id": "broken-{i}", "ts": not-json' for i in range(_N_CORRUPT)
        )
        with open(os.path.join(tmp, "data", "part-corrupt.json"), "w") as f:
            f.write(bad + "\n")

    _ensure_fixture(fixture, _build)
    schema = T.StructType(
        list(_SCHEMA.fields)
        + [T.StructField("_corrupt_record", T.StringType())]
    )
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("timestampFormat", _TS_FMT)
        .json(data_dir)
        .cache()
    )
    n_bad = parsed.filter(F.col("_corrupt_record").isNotNull()).count()
    if n_bad != _N_CORRUPT:
        raise AssertionError(
            f"corrupt-record routing lost lines: {n_bad} != {_N_CORRUPT}"
        )
    out = (
        parsed.filter(F.col("_corrupt_record").isNull())
        .select(
            "event_id",
            F.date_format("ts", _TS_FMT).alias("ts_s"),
            "user_id",
            "event_type",
            "value",
        )
        .orderBy("event_id")
    )
    # the cache exists ONLY for the corrupt-only-column count above
    # (round-9 ADVICE: leaving it pinned leaks executor memory for the
    # session lifetime); the returned projection references real
    # columns too, so it recomputes fine uncached
    parsed.unpersist()
    return out


_CORRUPT_SQL = f"""
SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
  user_id, event_type, value
FROM events WHERE event_id < {_MAX_ID}
ORDER BY event_id
"""


def sink_snapshot_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed derivation between two committed snapshot
    versions (Delta's CDF / Iceberg's changelog, computed from plain
    time travel): v2 holds all events; v3 OVERWRITES with a mutated
    copy — rows with event_id % 5 == 0 get value + 1000 (an UPDATE),
    the rest unchanged. The diff renders each update as a
    removed/added pair via two `exceptAll` passes between the version
    reads, rolled up per (change_type, event_type).

    exceptAll (not except) keeps multiset semantics — a table with
    duplicate rows must diff by multiplicity, which is what a CDC
    consumer replays.

    Scale: each exceptAll is one hash-partitioned anti-multiset pass
    over the two versions' scans; the rollup is change-type ×
    event-type sized. Version reads list manifest-named files only —
    no directory scans.
    """
    from etl_gcp_function_tmabrasil_spark.queries._util import dsum
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        commit_snapshot,
        read_snapshot,
    )

    fixture = fixture_dir(sf_dir, "snapshot_diff_table")

    def _build(tmp: str) -> None:
        table = os.path.join(tmp, "table")
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        v1 = commit_snapshot(ev.filter(F.col("event_id") % 3 != 0), table)
        v2 = commit_snapshot(
            ev.filter(F.col("event_id") % 3 == 0), table, mode="append"
        )
        mutated = ev.select(
            "event_id",
            "event_type",
            F.when(
                F.col("event_id") % 5 == 0, F.col("value") + 1000
            ).otherwise(F.col("value")).alias("value"),
        )
        v3 = commit_snapshot(mutated, table, mode="overwrite")
        if (v1, v2, v3) != (1, 2, 3):
            raise RuntimeError(f"unexpected versions: {(v1, v2, v3)}")

    _ensure_fixture(fixture, _build)
    table = os.path.join(fixture, "table")
    v2df = read_snapshot(spark, table, version=2)
    v3df = read_snapshot(spark, table, version=3)
    added = v3df.exceptAll(v2df).withColumn("change_type", F.lit("added"))
    removed = v2df.exceptAll(v3df).withColumn(
        "change_type", F.lit("removed")
    )
    return (
        added.unionByName(removed)
        .groupBy("change_type", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("value").alias("sum_value"),
        )
        .orderBy("change_type", "event_type")
    )


_SNAPSHOT_DIFF_SQL = """
WITH changed AS (SELECT event_type, value FROM events WHERE event_id % 5 = 0),
diff AS (
  SELECT 'added' AS change_type, event_type, value + 1000 AS value FROM changed
  UNION ALL
  SELECT 'removed', event_type, value FROM changed
)
SELECT change_type, event_type, COUNT(*) AS n_rows,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM diff GROUP BY change_type, event_type
ORDER BY change_type, event_type
"""


def sink_snapshot_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO on the snapshot sink (Delta's MERGE semantics from
    primitives): v1 holds the events with event_id % 3 != 0; an
    updates batch carries every event_id % 7 == 0 row with value + 500
    (UPDATE where it exists in v1, INSERT where it doesn't). The merge
    is one full-outer-shaped pass — base rows left-anti the update
    keys, unioned with the updates — committed as v2 (overwrite: MERGE
    rewrites the table; the partitioned CDC gate shows the
    touched-partition-only variant). The gate reads v2 back and rolls
    it up per event_type.

    Scale: the anti join and union are key-partitioned single passes;
    commit writes through the manifest so a crashed merge leaves v1
    intact (snapshot isolation is the point of MERGE-on-snapshot).
    """
    from etl_gcp_function_tmabrasil_spark.queries._util import dsum
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        commit_snapshot,
        read_snapshot,
    )

    fixture = fixture_dir(sf_dir, "snapshot_merge_table")

    def _build(tmp: str) -> None:
        table = os.path.join(tmp, "table")
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        v1 = commit_snapshot(ev.filter(F.col("event_id") % 3 != 0), table)
        updates = ev.filter(F.col("event_id") % 7 == 0).select(
            "event_id",
            "event_type",
            (F.col("value") + 500).alias("value"),
        )
        base = read_snapshot(spark, table, version=1)
        merged = base.join(
            updates.select("event_id"), "event_id", "left_anti"
        ).unionByName(updates)
        v2 = commit_snapshot(merged, table, mode="overwrite")
        if (v1, v2) != (1, 2):
            raise RuntimeError(f"unexpected versions: {(v1, v2)}")

    _ensure_fixture(fixture, _build)
    table = os.path.join(fixture, "table")
    return (
        read_snapshot(spark, table, version=2)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("value").alias("sum_value"),
        )
        .orderBy("event_type")
    )


_SNAPSHOT_MERGE_SQL = """
WITH merged AS (
  SELECT event_id, event_type, value FROM events
  WHERE event_id % 3 <> 0 AND event_id % 7 <> 0
  UNION ALL
  SELECT event_id, event_type, value + 500 FROM events
  WHERE event_id % 7 = 0
)
SELECT event_type, COUNT(*) AS n_rows,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM merged GROUP BY event_type ORDER BY event_type
"""


def sink_snapshot_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot VACUUM / expire_snapshots — the retention lifecycle:
    v1 overwrites with slice A, v2 OVERWRITES with a mutated slice B
    (fresh file set, so v1's files become v1-exclusive), v3 APPENDS
    slice C (carrying v2's files forward); `vacuum_snapshots(retain=2)`
    must expire v1, physically delete exactly v1's exclusive files,
    and leave v2/v3 byte-identical.

    Hard-checked at fixture build: v1's files are GONE from disk,
    every v2/v3-referenced file still exists, reading v1 raises, and
    v3's row count survives the vacuum unchanged. The gate returns the
    post-vacuum v3 rollup; the oracle recomputes it from the base
    predicates — any file the vacuum wrongly deleted (or resurrected)
    breaks the hash.
    """
    from etl_gcp_function_tmabrasil_spark.queries._util import dsum
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        commit_snapshot,
        read_snapshot,
        snapshot_files,
        vacuum_snapshots,
    )

    fixture = fixture_dir(sf_dir, "snapshot_vacuum_table")

    def _build(tmp: str) -> None:
        table = os.path.join(tmp, "table")
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        commit_snapshot(ev.filter(F.col("event_id") % 3 == 0), table,
                        mode="overwrite")
        commit_snapshot(
            ev.filter(F.col("event_id") % 3 == 1).select(
                "event_id", "event_type",
                (F.col("value") + 100).alias("value"),
            ),
            table, mode="overwrite",
        )
        commit_snapshot(ev.filter(F.col("event_id") % 3 == 2), table,
                        mode="append")
        v1_files = set(snapshot_files(table, 1))
        keep_files = set(snapshot_files(table, 2)) | set(
            snapshot_files(table, 3)
        )
        n_before = read_snapshot(spark, table, version=3).count()
        stats = vacuum_snapshots(table, retain_last=2)
        if stats["expired_versions"] != [1]:
            raise AssertionError(f"expected to expire v1: {stats}")
        gone = v1_files - keep_files
        for p in gone:
            if os.path.exists(p):
                raise AssertionError(f"vacuum left expired file {p}")
        for p in keep_files:
            if not os.path.exists(p):
                raise AssertionError(f"vacuum deleted a retained file {p}")
        try:
            read_snapshot(spark, table, version=1)
            raise AssertionError("expired v1 still readable")
        except FileNotFoundError:
            pass
        n_after = read_snapshot(spark, table, version=3).count()
        if n_before != n_after:
            raise AssertionError(
                f"v3 changed across vacuum: {n_before} != {n_after}"
            )

    _ensure_fixture(fixture, _build)
    table = os.path.join(fixture, "table")
    return (
        read_snapshot(spark, table, version=3)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("value").alias("sum_value"),
        )
        .orderBy("event_type")
    )


_SNAPSHOT_VACUUM_SQL = """
WITH v3 AS (
  SELECT event_type, value + 100 AS value FROM events WHERE event_id % 3 = 1
  UNION ALL
  SELECT event_type, value FROM events WHERE event_id % 3 = 2
)
SELECT event_type, COUNT(*) AS n_rows,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM v3 GROUP BY event_type ORDER BY event_type
"""


def sink_snapshot_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot RESTORE (Delta RESTORE / Iceberg rollback) — the
    metadata-only undo: after v1 (slice A) and a bad v2 (overwrite
    with mutated rows), `restore_snapshot(to_version=1)` publishes v3
    referencing v1's FILES — no data read, copied, or rewritten.

    Hard-checked at fixture build: the data directory's file set is
    BYTE-IDENTICAL across the restore (metadata-only is the
    contract), v3's manifest records `restored_from`, and a
    subsequent `vacuum_snapshots(retain_last=2)` — which expires v1
    itself — must NOT delete v1's files, because the retained restore
    still references them (the reference-counting interplay that
    makes restore + vacuum safe to compose). The gate returns the
    post-restore newest-version rollup; the oracle recomputes slice
    A from the base table.
    """
    from etl_gcp_function_tmabrasil_spark.queries._util import dsum
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        _load_manifest,
        commit_snapshot,
        read_snapshot,
        restore_snapshot,
        vacuum_snapshots,
    )

    fixture = fixture_dir(sf_dir, "snapshot_restore_table")

    def _build(tmp: str) -> None:
        table = os.path.join(tmp, "table")
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        commit_snapshot(ev.filter(F.col("event_id") % 3 == 0), table,
                        mode="overwrite")
        commit_snapshot(
            ev.select("event_id", "event_type",
                      (F.col("value") * 2).alias("value")),
            table, mode="overwrite",
        )

        def _data_files() -> set[str]:
            out = set()
            for root, _, fs in os.walk(os.path.join(table, "data")):
                out.update(os.path.join(root, f) for f in fs)
            return out

        before = _data_files()
        v3 = restore_snapshot(table, to_version=1)
        if v3 != 3:
            raise AssertionError(f"expected restore to publish v3, got {v3}")
        if _data_files() != before:
            raise AssertionError("restore touched data files (must be metadata-only)")
        if _load_manifest(table, 3).get("restored_from") != 1:
            raise AssertionError("restored manifest lost its provenance")
        # vacuum expiring v1 must keep v1's files: v3 references them
        stats = vacuum_snapshots(table, retain_last=2)
        if stats["expired_versions"] != [1]:
            raise AssertionError(f"expected v1 expiry: {stats}")
        if stats["deleted_files"]:
            raise AssertionError(
                f"vacuum deleted restore-referenced files: {stats}"
            )
        n1 = read_snapshot(spark, table, version=3).count()
        if n1 == 0:
            raise AssertionError("restored version reads empty")

    _ensure_fixture(fixture, _build)
    table = os.path.join(fixture, "table")
    return (
        read_snapshot(spark, table)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("value").alias("sum_value"),
        )
        .orderBy("event_type")
    )


_SNAPSHOT_RESTORE_SQL = """
SELECT event_type, COUNT(*) AS n_rows,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events WHERE event_id % 3 = 0
GROUP BY event_type ORDER BY event_type
"""


def sink_snapshot_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot OPTIMIZE / compaction — the last lifecycle verb
    (commit / time-travel / diff / merge / vacuum / restore /
    COMPACT): three small appends fragment the table into many files;
    compaction reads the newest version and republishes it as ONE
    coalesced file under a new version — content byte-identical, old
    versions intact (still time-travelable until vacuumed), small-file
    pressure gone. Exactly Delta's OPTIMIZE contract: a data-layout
    change that must be invisible to readers.

    Hard-checked at fixture build: v4's manifest lists STRICTLY fewer
    files than v3's (and exactly 1 here), v4's rollup equals v3's
    row-for-row (count compare; the oracle hash-proves the values),
    and a vacuum retaining only v4 deletes every fragmented file while
    v4 stays readable.
    """
    from etl_gcp_function_tmabrasil_spark.queries._util import dsum
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        commit_snapshot,
        read_snapshot,
        snapshot_files,
        vacuum_snapshots,
    )

    fixture = fixture_dir(sf_dir, "snapshot_compact_table")

    def _build(tmp: str) -> None:
        table = os.path.join(tmp, "table")
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        for m in range(3):  # three fragmented appends
            commit_snapshot(
                ev.filter(F.col("event_id") % 3 == m).repartition(4),
                table,
                mode="append" if m else "overwrite",
            )
        n_files_before = len(snapshot_files(table, 3))
        if n_files_before < 3:
            raise AssertionError(f"fixture not fragmented: {n_files_before}")
        before = read_snapshot(spark, table, version=3)
        n_before = before.count()
        v4 = commit_snapshot(before.coalesce(1), table, mode="overwrite")
        if v4 != 4:
            raise AssertionError(f"expected compaction to publish v4: {v4}")
        n_files_after = len(snapshot_files(table, 4))
        if n_files_after >= n_files_before or n_files_after != 1:
            raise AssertionError(
                f"compaction did not shrink the file list: "
                f"{n_files_before} -> {n_files_after}"
            )
        if read_snapshot(spark, table, version=4).count() != n_before:
            raise AssertionError("compaction changed the row count")
        stats = vacuum_snapshots(table, retain_last=1)
        if len(stats["deleted_files"]) != n_files_before:
            raise AssertionError(
                f"vacuum after compaction should delete every fragment: {stats}"
            )

    _ensure_fixture(fixture, _build)
    table = os.path.join(fixture, "table")
    return (
        read_snapshot(spark, table)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("value").alias("sum_value"),
        )
        .orderBy("event_type")
    )


_SNAPSHOT_COMPACT_SQL = """
SELECT event_type, COUNT(*) AS n_rows,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type ORDER BY event_type
"""


def sink_snapshot_point_skipping(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Manifest DICTIONARY/BLOOM file skipping for POINT lookups
    (`sinks/snapshot.py:snapshot_files(points=...)`) — the case MIN/MAX
    stats structurally cannot prune: an equality predicate on a
    high-cardinality key whose values INTERLEAVE across files (here:
    hash-clustered on ``event_id % 8``, so every file's [min, max]
    spans ~the whole id range). A commit records, per file per point
    column, a bounded exact value dictionary (when the file's distinct
    count fits) and a CRC-32 bloom filter sized to the per-file NDV —
    the Parquet dictionary/bloom-page capability lifted to the
    manifest, exactly as Delta/Iceberg layer bloom indexes over
    min/max. Reading with ``points={col: v}`` keeps only files whose
    dictionary contains v or whose bloom admits it (false keeps
    possible, false skips never).

    Hard-checks at fixture build, all scale-relative: (1) MIN/MAX
    pruning on [v, v] keeps EVERY file (proving the layout defeats
    range stats); (2) point skipping keeps a strict, non-empty subset;
    (3) the one file that must survive (the hash bucket holding v)
    does. The returned rows are the pruned+filtered point lookup; the
    oracle computes the same lookup from the base table — a wrongly
    skipped file loses rows and cannot hash-match.
    """
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        commit_snapshot,
        read_snapshot,
        snapshot_files,
    )

    fixture = fixture_dir(sf_dir, "snapshot_points")

    def _build(tmp: str) -> None:
        table = os.path.join(tmp, "table")
        base = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        # bounded scalar sentinels, off the hot path (fixture build)
        n_rows, max_id = base.agg(
            F.count(F.lit(1)), F.max("event_id")
        ).collect()[0]
        # the probed id: the largest existing id <= max//2 (exists at
        # every sf; equals max//2 on dense ids)
        vq = (
            base.filter(F.col("event_id") <= max_id // 2)
            .agg(F.max("event_id"))
            .collect()[0][0]
        )
        # hash-cluster on id residue: every file's id RANGE spans the
        # table, so range stats are useless and only dictionary/bloom
        # metadata can skip. Bloom sized ~8 bits per per-file value
        # (the Parquet rule), as a power of two >= n_rows — the fill
        # ratio, hence the false-keep rate, stays constant as sf grows.
        bloom_bits = 1 << max(10, int(n_rows).bit_length())
        ev = base.repartition(8, F.pmod(F.col("event_id"), F.lit(8)))
        commit_snapshot(
            ev,
            table,
            stats_cols=["event_id"],
            point_cols=["event_id"],
            bloom_bits=bloom_bits,
        )
        total = snapshot_files(table)
        by_range = snapshot_files(table, prune={"event_id": (vq, vq)})
        by_point = snapshot_files(table, points={"event_id": int(vq)})
        if len(total) < 2 or len(by_range) != len(total):
            raise RuntimeError(
                "fixture layout broken: min/max pruned "
                f"{len(total) - len(by_range)} of {len(total)} files — "
                "interleaved ids must defeat range stats"
            )
        if not by_point or len(by_point) >= len(total):
            raise RuntimeError(
                f"point skipping did not skip files: {len(by_point)} of "
                f"{len(total)} kept for event_id={vq}"
            )
        (
            read_snapshot(spark, table, points={"event_id": int(vq)})
            .filter(F.col("event_id") == vq)
            .select("event_id", "event_type", "value")
            .write.parquet(os.path.join(tmp, "out"))
        )

    _ensure_fixture(fixture, _build)
    return (
        spark.read.parquet(os.path.join(fixture, "out"))
        .orderBy("event_type", "value")
    )


_SNAPSHOT_POINTS_SQL = """
SELECT event_id, event_type, value
FROM events
WHERE event_id = (
  SELECT MAX(event_id) FROM events
  WHERE event_id <= (SELECT CAST(FLOOR(MAX(event_id) / 2) AS BIGINT)
                     FROM events))
ORDER BY event_type, value
"""


def sink_snapshot_time_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMESTAMP time travel on the snapshot sink (Delta's
    ``timestampAsOf`` / Iceberg's snapshot-log lookup,
    `sinks/snapshot.py:resolve_version_at`): every commit records its
    wall-clock instant in the manifest, and a reader asking for the
    table "as of T" gets the newest version committed at or before T —
    the audit/reproducibility verb version numbers alone can't give a
    user who only knows WHEN their downstream job ran.

    The fixture commits three thirds of `events` with EXPLICIT,
    deterministic commit timestamps (1000/2000/3000) and hard-checks
    the resolution boundaries: as_of mid-window resolves the middle
    version, as_of exactly at a commit instant includes it, as_of
    before the first commit raises. The returned rollup reads
    as_of=2500 — exactly versions 1+2's rows; the oracle recomputes
    that two-thirds subset from the base table, so a resolution that
    drifted one version either way cannot hash-match.
    """
    from etl_gcp_function_tmabrasil_spark.queries._util import dsum
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        commit_snapshot,
        read_snapshot,
        resolve_version_at,
    )

    fixture = fixture_dir(sf_dir, "snapshot_as_of")

    def _build(tmp: str) -> None:
        table = os.path.join(tmp, "table")
        base = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        for m, ts in ((0, 1000.0), (1, 2000.0), (2, 3000.0)):
            commit_snapshot(
                base.filter(F.col("event_id") % 3 == m),
                table,
                mode="append" if m else "overwrite",
                commit_ts=ts,
            )
        if resolve_version_at(table, 2500.0) != 2:
            raise AssertionError("mid-window as_of must resolve v2")
        if resolve_version_at(table, 2000.0) != 2:
            raise AssertionError("as_of AT a commit instant includes it")
        if resolve_version_at(table, 9999.0) != 3:
            raise AssertionError("late as_of must resolve the newest")
        try:
            resolve_version_at(table, 500.0)
        except FileNotFoundError:
            pass
        else:
            raise AssertionError("pre-history as_of must raise")
        (
            read_snapshot(spark, table, as_of=2500.0)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                dsum("value", 4).alias("sum_value"),
            )
            .write.parquet(os.path.join(tmp, "out"))
        )

    _ensure_fixture(fixture, _build)
    return (
        spark.read.parquet(os.path.join(fixture, "out")).orderBy("event_type")
    )


_SNAPSHOT_AS_OF_SQL = """
SELECT event_type, COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events WHERE event_id % 3 < 2
GROUP BY event_type ORDER BY event_type
"""


def sink_snapshot_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema EVOLUTION on the snapshot sink (Delta ``mergeSchema`` /
    Iceberg add-column, `sinks/snapshot.py:_merge_schemas`): an append
    may ADD nullable columns (manifest schema becomes the union,
    previous order first) or OMIT existing ones (new files null-fill
    at read) — while silent type changes and un-flagged drift still
    raise. Readers scan every version's files under the manifest's
    DECLARED schema, so pre-evolution files null-fill the newer
    columns, exactly the lakehouse read-time contract.

    The fixture evolves the table three ways: v1 has no `value`
    column, v2 adds it (merge_schema append), v3 appends rows missing
    `event_type`. Hard-checks: un-flagged drift still raises; a type
    change raises EVEN WITH merge_schema. The returned rollup groups
    the union table by the nullable column — a reader that dropped
    the null-filled rows or mis-merged the schema cannot hash-match
    the oracle's explicit three-way UNION.
    """
    from etl_gcp_function_tmabrasil_spark.queries._util import dsum
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        commit_snapshot,
        read_snapshot,
    )

    fixture = fixture_dir(sf_dir, "snapshot_schema_merge")

    def _build(tmp: str) -> None:
        table = os.path.join(tmp, "table")
        base = load_table(spark, sf_dir, "events")
        commit_snapshot(
            base.filter(F.col("event_id") % 3 == 0).select(
                "event_id", "event_type"
            ),
            table,
            mode="overwrite",
        )
        with_value = base.filter(F.col("event_id") % 3 == 1).select(
            "event_id", "event_type", "value"
        )
        try:
            commit_snapshot(with_value, table, mode="append")
        except ValueError:
            pass
        else:
            raise AssertionError("un-flagged schema drift must raise")
        commit_snapshot(with_value, table, mode="append", merge_schema=True)
        try:
            commit_snapshot(
                base.filter(F.col("event_id") % 3 == 2).select(
                    "event_id", F.col("value").cast("string").alias("value")
                ),
                table,
                mode="append",
                merge_schema=True,
            )
        except ValueError:
            pass
        else:
            raise AssertionError("type change must raise under merge")
        commit_snapshot(
            base.filter(F.col("event_id") % 3 == 2).select(
                "event_id", "value"
            ),
            table,
            mode="append",
            merge_schema=True,
        )
        (
            read_snapshot(spark, table)
            .groupBy(
                F.coalesce(F.col("event_type"), F.lit("none")).alias(
                    "event_type"
                )
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count("value").alias("n_value"),
                dsum("value", 4).alias("sum_value"),
            )
            .write.parquet(os.path.join(tmp, "out"))
        )

    _ensure_fixture(fixture, _build)
    return (
        spark.read.parquet(os.path.join(fixture, "out")).orderBy("event_type")
    )


_SNAPSHOT_SCHEMA_MERGE_SQL = """
WITH t AS (
  SELECT event_id, event_type, CAST(NULL AS DOUBLE) AS value
  FROM events WHERE event_id % 3 = 0
  UNION ALL
  SELECT event_id, event_type, value FROM events WHERE event_id % 3 = 1
  UNION ALL
  SELECT event_id, CAST(NULL AS VARCHAR), value
  FROM events WHERE event_id % 3 = 2)
SELECT COALESCE(event_type, 'none') AS event_type, COUNT(*) AS n,
  COUNT(value) AS n_value,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM t GROUP BY 1 ORDER BY event_type
"""


def sink_snapshot_ndv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDV sketches in the snapshot manifest
    (`sinks/snapshot.py:snapshot_ndv`): each commit folds a per-file
    K-minimum-values sketch of the requested columns into the same
    metadata aggregation as the min/max stats, and ANY version's
    distinct-count estimate is then recoverable from manifest metadata
    alone — merging the files' k-min sets is lossless (files partition
    the rows, so the union's k smallest IS the global sketch). This is
    the per-version NDV a cost-based planner or freshness monitor
    wants without replaying history — Iceberg's per-file ndv stats /
    Delta's column stats, realized with the engine's KMV machinery.

    The gate commits two versions (a third of events, then an append
    to two thirds), reads both versions' user_id NDV from the
    MANIFESTS ONLY, and emits (version, exact, estimate,
    within-25%-bound) rows — deterministic booleans (md5 hash;
    calibrated max error 5.9% across sf0.001/0.01/0.1 before gating),
    hash-checked against an oracle that recomputes the same k-min
    estimator over the same subsets.
    """
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        commit_snapshot,
        snapshot_ndv,
    )

    fixture = fixture_dir(sf_dir, "snapshot_ndv")

    def _build(tmp: str) -> None:
        table = os.path.join(tmp, "table")
        base = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "value"
        )
        commit_snapshot(
            base.filter(F.col("event_id") % 3 == 0).repartition(4),
            table,
            mode="overwrite",
            ndv_cols=["user_id"],
        )
        commit_snapshot(
            base.filter(F.col("event_id") % 3 == 1).repartition(4),
            table,
            mode="append",
        )
        rows = []
        for v, pred in ((1, F.col("event_id") % 3 == 0),
                        (2, F.col("event_id") % 3 < 2)):
            est = snapshot_ndv(table, "user_id", version=v)
            exact = (
                base.filter(pred)
                .agg(F.countDistinct("user_id"))
                .collect()[0][0]
            )
            rows.append((f"v{v}", exact, est))
        (
            spark.createDataFrame(
                rows, "version string, exact_ndv long, ndv_est long"
            )
            .select(
                "version",
                "exact_ndv",
                "ndv_est",
                F.coalesce(
                    (
                        F.abs(F.col("ndv_est") - F.col("exact_ndv"))
                        / F.col("exact_ndv")
                    )
                    <= 0.25,
                    F.lit(False),
                ).alias("within_bound"),
            )
            .write.parquet(os.path.join(tmp, "out"))
        )

    _ensure_fixture(fixture, _build)
    return (
        spark.read.parquet(os.path.join(fixture, "out")).orderBy("version")
    )


_SNAPSHOT_NDV_SQL = f"""
WITH versions(version, lo, hi) AS (VALUES ('v1', 0, 0), ('v2', 0, 1)),
est AS (
  SELECT v.version,
    (SELECT COUNT(DISTINCT user_id) FROM events
     WHERE event_id % 3 BETWEEN v.lo AND v.hi) AS exact_ndv,
    (WITH h AS (SELECT DISTINCT
        (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT)
          AS hv
      FROM events WHERE event_id % 3 BETWEEN v.lo AND v.hi),
     sk AS (SELECT hv FROM h ORDER BY hv LIMIT 128)
     SELECT CASE WHEN (SELECT COUNT(*) FROM sk) < 128
                 THEN (SELECT COUNT(*) FROM sk)
                 ELSE CAST(ROUND({127.0 * float(1 << 60)!r}
                                 / (SELECT MAX(hv) FROM sk)) AS BIGINT)
            END) AS ndv_est
  FROM versions v)
SELECT version, exact_ndv, ndv_est,
  COALESCE(ABS(ndv_est - exact_ndv) / CAST(exact_ndv AS DOUBLE) <= 0.25,
           FALSE) AS within_bound
FROM est ORDER BY version
"""


def sink_snapshot_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write row-level DELETE on the snapshot sink
    (`sinks/snapshot.py:delete_where` — Delta ``DELETE FROM ... WHERE``
    / Iceberg copy-on-write delete): the commit rewrites ONLY the
    files that actually contain matching rows and carries every other
    file forward byte-identical, so a selective delete on a 100 TB
    table touches the few files holding the keys, never the table.
    Candidate files come from manifest MIN/MAX pruning on a bound the
    predicate implies; the per-file match count then drops candidates
    with no matches from the rewrite set.

    Hard-checks at fixture build: (1) the rewrite set is a strict,
    non-empty subset of the table's files; (2) every untouched file's
    rel path appears UNCHANGED in the new manifest (copy-on-write,
    not copy-the-table); (3) the pre-delete version still reads back
    complete (time travel). The returned rows aggregate the
    post-delete table; the oracle recomputes the same aggregate from
    ``orders`` under the negated predicate (NULL-predicate rows kept,
    per SQL DELETE) — a lost or doubly-deleted row cannot hash-match.
    """
    from etl_gcp_function_tmabrasil_spark.queries._util import csum
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        _load_manifest,
        commit_snapshot,
        delete_where,
        read_snapshot,
    )

    fixture = fixture_dir(sf_dir, "snapshot_delete")

    def _build(tmp: str) -> None:
        table = os.path.join(tmp, "table")
        base = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        # scale-relative key band (gotcha: absolute bounds go empty at
        # sf0.001); one bounded scalar sentinel at fixture build
        max_key = base.agg(F.max("o_orderkey")).collect()[0][0]
        lo, hi = max_key // 4, max_key // 2
        n_before = base.count()
        commit_snapshot(
            base.repartitionByRange(8, "o_orderkey"),
            table,
            stats_cols=["o_orderkey"],
        )
        cond = (
            f"o_orderkey BETWEEN {lo} AND {hi} "
            "AND o_orderstatus = 'F'"
        )
        res = delete_where(
            spark,
            table,
            cond,
            prune={"o_orderkey": (lo, hi)},
        )
        m1, m2 = _load_manifest(table, 1), _load_manifest(table, 2)
        untouched = set(m1["files"]) & set(m2["files"])
        if not (0 < res["files_rewritten"] < len(m1["files"])):
            raise RuntimeError(
                f"delete rewrote {res['files_rewritten']} of "
                f"{len(m1['files'])} files — expected a strict, "
                "non-empty copy-on-write subset"
            )
        if len(untouched) != len(m1["files"]) - res["files_rewritten"]:
            raise RuntimeError(
                "untouched files were not carried forward byte-identical"
            )
        if read_snapshot(spark, table, version=1).count() != n_before:
            raise RuntimeError("pre-delete version lost rows")
        (
            read_snapshot(spark, table)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                csum("o_totalprice", 4).alias("total_price"),
            )
            .write.parquet(os.path.join(tmp, "out"))
        )

    _ensure_fixture(fixture, _build)
    return (
        spark.read.parquet(os.path.join(fixture, "out"))
        .orderBy("o_orderstatus")
    )


_SNAPSHOT_DELETE_SQL = """
WITH b AS (
  SELECT (MAX(o_orderkey) // 4) AS lo, (MAX(o_orderkey) // 2) AS hi
  FROM orders)
SELECT o_orderstatus, COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
FROM orders, b
WHERE NOT COALESCE(
  o_orderkey BETWEEN b.lo AND b.hi AND o_orderstatus = 'F', FALSE)
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def sink_snapshot_replace_where(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Predicate-scoped atomic overwrite on the snapshot sink
    (`sinks/snapshot.py:replace_where` — Delta's
    ``option("replaceWhere", ...)``): delete every row matching the
    predicate AND insert the replacement frame in ONE manifest
    version — the idempotent-backfill idiom (re-materialize one
    day/segment of a 100 TB table without touching the rest). The
    insert is VALIDATED against the predicate: a backfill bleeding
    outside its scope raises instead of silently corrupting
    neighboring ranges.

    The gate backfills one customer segment of ``orders`` with
    re-priced rows (5% decimal discount). Hard-checks: the validate
    guard rejects an out-of-scope insert; the rewrite is a strict
    copy-on-write subset; versions before the swap read back intact.
    The oracle applies the same CASE re-pricing to the base table.
    """
    from etl_gcp_function_tmabrasil_spark.queries._util import csum
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        _load_manifest,
        commit_snapshot,
        read_snapshot,
        replace_where,
    )

    fixture = fixture_dir(sf_dir, "snapshot_replace")

    def _build(tmp: str) -> None:
        table = os.path.join(tmp, "table")
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        )
        base = (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .join(cust, F.col("o_custkey") == F.col("c_custkey"))
            .select("o_orderkey", "c_mktsegment", "o_totalprice")
        )
        commit_snapshot(
            base.repartition(6, "c_mktsegment"), table
        )
        repriced = (
            base.filter(F.col("c_mktsegment") == "BUILDING")
            .withColumn(
                "o_totalprice",
                (
                    F.col("o_totalprice").cast("decimal(18,4)")
                    * F.lit("0.95").cast("decimal(6,2)")
                ).cast("double"),
            )
        )
        # guard: an insert row OUTSIDE the predicate must raise
        try:
            replace_where(
                spark,
                base.limit(5),
                table,
                "c_mktsegment = 'BUILDING'",
            )
        except ValueError:
            pass
        else:
            raise RuntimeError(
                "replace_where accepted rows outside its predicate"
            )
        res = replace_where(
            spark, repriced, table, "c_mktsegment = 'BUILDING'"
        )
        m1 = _load_manifest(table, 1)
        if not (0 < res["files_rewritten"] <= len(m1["files"])):
            raise RuntimeError(
                f"replace rewrote {res['files_rewritten']} of "
                f"{len(m1['files'])} files — expected a non-empty "
                "copy-on-write subset"
            )
        if read_snapshot(spark, table, version=1).count() != base.count():
            raise RuntimeError("pre-replace version lost rows")
        (
            read_snapshot(spark, table)
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                csum("o_totalprice", 4).alias("total_price"),
            )
            .write.parquet(os.path.join(tmp, "out"))
        )

    _ensure_fixture(fixture, _build)
    return (
        spark.read.parquet(os.path.join(fixture, "out"))
        .orderBy("c_mktsegment")
    )


_SNAPSHOT_REPLACE_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_orders,
  CAST(SUM(CAST(CASE WHEN c_mktsegment = 'BUILDING'
    THEN CAST(CAST(o_totalprice AS DECIMAL(18,4))
              * CAST('0.95' AS DECIMAL(6,2)) AS DOUBLE)
    ELSE o_totalprice END AS DECIMAL(18,4))) AS DOUBLE) AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def plan_exchange_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exchange reuse across self-referencing subtrees — the Catalyst
    ReuseExchange rule, hard-checked: a rollup joined with its own
    re-aggregation (monthly quantity share within each return flag)
    contains the SAME shuffle twice in the logical plan; physically
    the second subtree must read the FIRST's shuffle files
    (`ReusedExchange`) instead of re-scanning and re-shuffling the
    fact table. At 100 TB that is the difference between one
    fact-table pass and two — and it is exactly the plan shape every
    share-of-total / ratio-to-report query produces.

    The gate EXECUTES the join and raises at fixture build if the
    executed plan lacks a ReusedExchange node (reuse is
    semantics-preserving, so a silent regression could never turn
    the oracle red — the plan check IS the gate; the r7
    repartitionByRange lesson says reuse must be VERIFIED, never
    assumed). The oracle recomputes the shares from the base table.
    """
    from etl_gcp_function_tmabrasil_spark.queries._util import csum

    fixture = fixture_dir(sf_dir, "exchange_reuse")

    def _build(tmp: str) -> None:
        li = load_table(spark, sf_dir, "lineitem")
        base = li.groupBy(
            "l_returnflag",
            F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
        ).agg(
            F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("q")
        )
        tot = base.groupBy("l_returnflag").agg(F.sum("q").alias("tq"))
        out = base.join(tot, "l_returnflag").select(
            "l_returnflag",
            "ship_month",
            F.col("q").cast("double").alias("qty"),
            F.round(
                F.col("q").cast("double") / F.col("tq").cast("double"), 6
            ).alias("share"),
        )
        # execute via collect so THIS DataFrame's query execution is
        # the finalized one (a .write spawns its own QE and the
        # unexecuted plan has no AQE-materialized reuse node); the
        # result is bounded (flags x months)
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        if "ReusedExchange" not in plan:
            raise RuntimeError(
                "executed plan re-shuffled the rollup instead of "
                "reusing its exchange — ReuseExchange regressed"
            )
        out.write.parquet(os.path.join(tmp, "out"))

    _ensure_fixture(fixture, _build)
    return (
        spark.read.parquet(os.path.join(fixture, "out"))
        .orderBy("l_returnflag", "ship_month")
    )


_EXCHANGE_REUSE_SQL = """
WITH base AS (
  SELECT l_returnflag, strftime(l_shipdate, '%Y-%m') AS ship_month,
    SUM(CAST(l_quantity AS DECIMAL(18,4))) AS q
  FROM lineitem GROUP BY 1, 2),
tot AS (SELECT l_returnflag, SUM(q) AS tq FROM base GROUP BY 1)
SELECT base.l_returnflag, ship_month,
  CAST(q AS DOUBLE) AS qty,
  ROUND(CAST(q AS DOUBLE) / CAST(tq AS DOUBLE), 6) AS share
FROM base JOIN tot ON base.l_returnflag = tot.l_returnflag
ORDER BY base.l_returnflag, ship_month
"""


def sink_snapshot_zorder_optimize(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OPTIMIZE ZORDER on the snapshot sink
    (`sinks/snapshot.py:optimize_layout`): republish the newest
    version re-clustered on the Morton key of (user bucket, day
    bucket) — the r7 z-order layout row lifted into the manifest
    lifecycle, where the IMPROVEMENT is hard-checked against the
    table's own pre-optimize layout rather than a side-by-side
    control: the base commit is time-sorted (every file's user-bucket
    interval spans the table, so min/max pruning on a user band keeps
    ALL files), and after the z rewrite the SAME prune must keep a
    strict, non-empty subset. Content identity across the rewrite is
    hard-checked too (row count + decimal value sum per version).

    The returned rows are the pruned+filtered band lookup off the
    optimized version; the oracle recomputes the band from `events` —
    a file wrongly skipped by the freshly recorded stats loses rows
    and cannot hash-match.
    """
    from etl_gcp_function_tmabrasil_spark.queries._util import csum
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        commit_snapshot,
        optimize_layout,
        read_snapshot,
        snapshot_files,
    )

    fixture = fixture_dir(sf_dir, "snapshot_zorder")

    def _build(tmp: str) -> None:
        table = os.path.join(tmp, "table")
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            "ts",
            "value",
            (F.col("user_id") % (1 << _Z_BITS)).cast("int").alias("xb"),
            (F.dayofyear("ts") % (1 << _Z_BITS)).cast("int").alias("yb"),
        )
        commit_snapshot(
            ev.repartitionByRange(8, "ts"), table, stats_cols=["xb"]
        )
        base_files = snapshot_files(table)
        band = (3, 4)  # a quarter of the 16 xb buckets
        kept_before = snapshot_files(table, prune={"xb": band})
        if len(base_files) < 2 or len(kept_before) != len(base_files):
            raise RuntimeError(
                "time-sorted base layout should defeat xb pruning "
                f"(kept {len(kept_before)} of {len(base_files)})"
            )
        v2 = optimize_layout(spark, table, _Z_EXPR, 8)
        kept_after = snapshot_files(table, v2, prune={"xb": band})
        if not kept_after or len(kept_after) >= len(base_files):
            raise RuntimeError(
                f"z-order optimize did not improve pruning: "
                f"{len(kept_after)} of {len(snapshot_files(table, v2))} "
                "files kept"
            )
        sums = [
            read_snapshot(spark, table, version=v)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,4)")).alias("s"),
            )
            .collect()[0]
            for v in (1, v2)
        ]
        if (sums[0]["n"], sums[0]["s"]) != (sums[1]["n"], sums[1]["s"]):
            raise RuntimeError("optimize changed the table's content")
        (
            read_snapshot(spark, table, version=v2, prune={"xb": band})
            .filter(F.col("xb").between(*band))
            .groupBy("xb")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                csum("value").alias("sum_value"),
            )
            .write.parquet(os.path.join(tmp, "out"))
        )

    _ensure_fixture(fixture, _build)
    return spark.read.parquet(os.path.join(fixture, "out")).orderBy("xb")


_SNAPSHOT_ZORDER_SQL = f"""
SELECT CAST(user_id % {1 << _Z_BITS} AS INT) AS xb, COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events
WHERE user_id % {1 << _Z_BITS} BETWEEN 3 AND 4
GROUP BY 1 ORDER BY xb
"""


def sink_incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a JOIN view — the delta
    algebra the r6 incremental-rollup row left open: with deltas on
    BOTH sides, the view's increment is
    ΔV = (ΔA ⋈ B_new) ∪ (A_old ⋈ ΔB)
    (the ΔA⋈ΔB cross term rides inside the first factor when B_new =
    B_old + ΔB), and the maintenance step touches ONLY delta-sized
    joins — at 100 TB a micro-batch of orders/customers maintains the
    materialized join without ever rescanning it (Materialize/Delta
    Live Tables semantics, expressed through the snapshot sink's
    append commit).

    Fixture: orders/customer each split into old + delta on key
    residues; V1 = A_old⋈B_old committed, then ONE append commit of
    the two delta terms. Hard-checks: every delta term (including the
    implicit ΔA⋈ΔB pairs) is non-empty — the fixture genuinely
    exercises the full algebra; V1 stays readable (time travel) at
    its original count. The oracle recomputes the FULL join from the
    base tables — hash equality proves the incremental view IS the
    full join.
    """
    from etl_gcp_function_tmabrasil_spark.queries._util import csum
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        commit_snapshot,
        read_snapshot,
    )

    fixture = fixture_dir(sf_dir, "ivm_join")

    def _build(tmp: str) -> None:
        table = os.path.join(tmp, "view")
        a = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        b = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        )
        a_old = a.filter(F.col("o_orderkey") % 5 != 0)
        da = a.filter(F.col("o_orderkey") % 5 == 0)
        b_old = b.filter(F.col("c_custkey") % 7 != 0)
        db = b.filter(F.col("c_custkey") % 7 == 0)
        join_cols = ["o_orderkey", "c_mktsegment", "o_totalprice"]

        def j(left, right):
            return left.join(
                F.broadcast(right),
                F.col("o_custkey") == F.col("c_custkey"),
            ).select(*join_cols)

        v1_rows = j(a_old, b_old)
        commit_snapshot(v1_rows.repartition(4), table, mode="overwrite")
        n_v1 = read_snapshot(spark, table).count()
        # maintenance: delta-sized joins only — never rescans the view
        delta = j(da, b).unionByName(j(a_old, db))
        commit_snapshot(delta.repartition(2), table, mode="append")
        # the fixture must exercise every term of the delta algebra
        for label, term in (
            ("dA x B_old", j(da, b_old)),
            ("A_old x dB", j(a_old, db)),
            ("dA x dB", j(da, db)),
        ):
            if term.limit(1).isEmpty():
                raise RuntimeError(f"IVM fixture term {label} is empty")
        if read_snapshot(spark, table, version=1).count() != n_v1:
            raise RuntimeError("pre-maintenance view version lost rows")
        (
            read_snapshot(spark, table)
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                csum("o_totalprice").alias("total_price"),
            )
            .write.parquet(os.path.join(tmp, "out"))
        )

    _ensure_fixture(fixture, _build)
    return (
        spark.read.parquet(os.path.join(fixture, "out"))
        .orderBy("c_mktsegment")
    )


_IVM_JOIN_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""



# --- Snapshot SHALLOW CLONE (round 12) ---------------------------------------


def sink_snapshot_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot SHALLOW CLONE (Delta ``CREATE TABLE ... SHALLOW
    CLONE``) — the zero-copy table branch: the clone's v1 manifest
    references the source version's data files BY PATH (metadata-only
    commit), then the two tables diverge independently — the clone
    takes an append and a full overwrite while the source stays
    byte-identical. At 100 TB this is the dev-copy / experiment-branch
    verb: an instant metadata commit instead of a multi-hour copy.

    Hard-checked at fixture build: (a) the clone's own data/ directory
    is EMPTY right after the clone (zero data bytes copied), (b) the
    clone@v1 read equals the source read, (c) appending to the clone
    leaves the source's row count unchanged, (d) vacuuming the clone
    after its overwrite deletes ONLY clone-local files — the `..`
    source references are structurally out of vacuum's reach (the
    documented Delta shallow-clone vacuum hazard), and the source
    still reads green afterwards. The gate returns the clone's final
    (post-overwrite) rollup; the oracle recomputes it from the base
    table.

    Reference parity: extends the snapshot-manifest sink family
    (SURVEY §2.2 sources/sinks; reference main.py:17 delegates all
    storage semantics to its placeholder).
    """
    from etl_gcp_function_tmabrasil_spark.queries._util import dsum
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        clone_snapshot,
        commit_snapshot,
        read_snapshot,
        vacuum_snapshots,
    )

    fixture = fixture_dir(sf_dir, "snapshot_clone_table")

    def _build(tmp: str) -> None:
        src = os.path.join(tmp, "src")
        dst = os.path.join(tmp, "clone")
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        commit_snapshot(ev.filter(F.col("event_id") % 4 == 0), src)
        commit_snapshot(
            ev.filter(F.col("event_id") % 4 == 1), src, mode="append"
        )
        n_src = read_snapshot(spark, src).count()
        info = clone_snapshot(src, dst)
        if info["files_referenced"] == 0:
            raise AssertionError("clone references no files")
        clone_data = os.path.join(dst, "data")
        if any(os.scandir(clone_data)):
            raise AssertionError("shallow clone copied data bytes")
        if read_snapshot(spark, dst).count() != n_src:
            raise AssertionError("clone@v1 does not equal the source")
        # diverge: append to the CLONE only
        commit_snapshot(
            ev.filter(F.col("event_id") % 4 == 2), dst, mode="append"
        )
        if read_snapshot(spark, src).count() != n_src:
            raise AssertionError("clone append leaked into the source")
        # overwrite the clone with its final contents (all three
        # slices), making v1/v2's source references dead...
        final = ev.filter(F.col("event_id") % 4 != 3)
        commit_snapshot(final, dst, mode="overwrite")
        # ...then vacuum: deletes must stay INSIDE the clone root
        stats = vacuum_snapshots(dst, retain_last=1)
        if any(f.startswith("..") for f in stats["deleted_files"]):
            raise AssertionError(
                f"vacuum reached through the clone into the source: {stats}"
            )
        if read_snapshot(spark, src).count() != n_src:
            raise AssertionError("vacuuming the clone destroyed source data")

    _ensure_fixture(fixture, _build)
    return (
        read_snapshot(spark, os.path.join(fixture, "clone"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("value").alias("sum_value"),
        )
        .orderBy("event_type")
    )


_SNAPSHOT_CLONE_SQL = """
SELECT event_type, COUNT(*) AS n_rows,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events WHERE event_id % 4 <> 3
GROUP BY event_type ORDER BY event_type
"""

QUERIES = {
    "sink_incremental_join_view": sink_incremental_join_view,
    "sink_snapshot_zorder_optimize": sink_snapshot_zorder_optimize,
    "plan_exchange_reuse": plan_exchange_reuse,
    "sink_snapshot_delete_where": sink_snapshot_delete_where,
    "sink_snapshot_replace_where": sink_snapshot_replace_where,
    "sink_snapshot_ndv_stats": sink_snapshot_ndv_stats,
    "sink_snapshot_schema_merge": sink_snapshot_schema_merge,
    "sink_snapshot_time_as_of": sink_snapshot_time_as_of,
    "sink_snapshot_point_skipping": sink_snapshot_point_skipping,
    "sink_snapshot_compact": sink_snapshot_compact,
    "sink_snapshot_restore": sink_snapshot_restore,
    "sink_snapshot_vacuum": sink_snapshot_vacuum,
    "sink_snapshot_merge_upsert": sink_snapshot_merge_upsert,
    "sink_snapshot_version_diff": sink_snapshot_version_diff,
    "scan_json_corrupt_records": scan_json_corrupt_records,
    "scan_binaryfile_source": scan_binaryfile_source,
    "sink_zorder_layout": sink_zorder_layout,
    "join_dpp_partitioned": join_dpp_partitioned,
    "join_runtime_bloom_filter": join_runtime_bloom_filter,
    "join_skew_aqe": join_skew_aqe,
    "sink_snapshot_time_travel": sink_snapshot_time_travel,
    "sink_snapshot_empty_schema": sink_snapshot_empty_schema,
    "sink_snapshot_stats_pruning": sink_snapshot_stats_pruning,
    "scan_csv_json_roundtrip": scan_csv_json_roundtrip,
    "scan_orc_roundtrip": scan_orc_roundtrip,
    "scan_xml_roundtrip": scan_xml_roundtrip,
    "sink_partitioned_roundtrip": sink_partitioned_roundtrip,
    "scan_cloudevent_datasource": scan_cloudevent_datasource,
    "stream_cloudevent_source": stream_cloudevent_source,
    "sink_cloudevent_writer": sink_cloudevent_writer,
    "sink_compaction_roundtrip": sink_compaction_roundtrip,
    "scan_schema_evolution": scan_schema_evolution,
    "sink_bucketed_colocated_join": sink_bucketed_colocated_join,
    "sink_incremental_rollup": sink_incremental_rollup,
    "sink_snapshot_clone": sink_snapshot_clone,
}

ORACLE = {
    "sink_incremental_join_view": _IVM_JOIN_SQL,
    "sink_snapshot_zorder_optimize": _SNAPSHOT_ZORDER_SQL,
    "plan_exchange_reuse": _EXCHANGE_REUSE_SQL,
    "sink_snapshot_delete_where": _SNAPSHOT_DELETE_SQL,
    "sink_snapshot_replace_where": _SNAPSHOT_REPLACE_SQL,
    "sink_snapshot_ndv_stats": _SNAPSHOT_NDV_SQL,
    "sink_snapshot_schema_merge": _SNAPSHOT_SCHEMA_MERGE_SQL,
    "sink_snapshot_time_as_of": _SNAPSHOT_AS_OF_SQL,
    "sink_snapshot_point_skipping": _SNAPSHOT_POINTS_SQL,
    "sink_snapshot_compact": _SNAPSHOT_COMPACT_SQL,
    "sink_snapshot_restore": _SNAPSHOT_RESTORE_SQL,
    "sink_snapshot_vacuum": _SNAPSHOT_VACUUM_SQL,
    "sink_snapshot_merge_upsert": _SNAPSHOT_MERGE_SQL,
    "sink_snapshot_version_diff": _SNAPSHOT_DIFF_SQL,
    "scan_json_corrupt_records": _CORRUPT_SQL,
    "scan_binaryfile_source": _BINARYFILE_SQL,
    "sink_zorder_layout": _ZORDER_SQL,
    "join_dpp_partitioned": _DPP_SQL,
    "join_runtime_bloom_filter": _BLOOM_JOIN_SQL,
    "join_skew_aqe": _SKEW_JOIN_SQL,
    "sink_snapshot_time_travel": _SNAPSHOT_SQL,
    "sink_snapshot_empty_schema": _SNAPSHOT_EMPTY_SQL,
    "sink_snapshot_stats_pruning": _SNAPSHOT_STATS_SQL,
    "sink_incremental_rollup": _INCREMENTAL_SQL,
    "scan_orc_roundtrip": _ORC_SQL,
    "scan_xml_roundtrip": _XML_SQL,
    "scan_csv_json_roundtrip": _SCAN_SQL,
    "sink_partitioned_roundtrip": _PARTITIONED_SQL,
    "scan_cloudevent_datasource": _CLOUDEVENT_SQL,
    "stream_cloudevent_source": _CLOUDEVENT_SQL,
    "sink_cloudevent_writer": _CLOUDEVENT_SINK_SQL,
    "sink_compaction_roundtrip": _COMPACTION_SQL,
    "scan_schema_evolution": _EVOLUTION_SQL,
    "sink_bucketed_colocated_join": _BUCKETED_JOIN_SQL,
    "sink_snapshot_clone": _SNAPSHOT_CLONE_SQL,
}


def sink_snapshot_wap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-AUDIT-PUBLISH (Iceberg's ``wap.id`` staging-branch flow;
    Netflix's WAP pattern): candidate batches land in an ISOLATED
    staging snapshot table, data-quality audits run against the
    staging read, and only a passing batch is PROMOTED into the main
    table — as a metadata-only append referencing the staged files by
    path (sinks/snapshot.promote_staged), so publish cost is
    O(manifest) regardless of batch bytes and a failed audit leaves
    the main table structurally untouched.

    Hard-checked at fixture build: (a) a BAD batch (planted NULL
    event_id rows — a value no input row holds, so a NULL
    ``event_type`` in the input, which the oracle groups like any
    other type, never fails the good batch) fails the audit and the
    main table's version list, manifest bytes, and row count are
    bit-unchanged after the rejection; (b) the GOOD batch passes, promote bumps main by ONE
    version whose read equals slice₀ ∪ slice₁, with ZERO new files in
    main's own data/ (metadata-only publish); (c) re-promoting the
    same txn_id is an idempotent no-op (same version returned, no new
    manifest). The gate returns the published table's rollup; the
    oracle recomputes it from the base events.

    Reference parity: the dead-letter branch of the reference's
    trigger (main.py:13-16 routes rejects away from the processing
    path) lifted to table commits — audit-reject instead of
    log-and-drop.
    """
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        commit_snapshot,
        promote_staged,
        read_snapshot,
        _manifests,
    )

    fixture = fixture_dir(sf_dir, "snapshot_wap_table")

    def _audit(df: DataFrame) -> bool:
        bad = df.filter(F.col("event_id").isNull()).limit(1).count()
        return bad == 0 and df.limit(1).count() > 0

    def _build(tmp: str) -> None:
        main = os.path.join(tmp, "main")
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        commit_snapshot(ev.filter(F.col("event_id") % 3 == 0), main)
        v0 = _manifests(main)
        n0 = read_snapshot(spark, main).count()
        files0 = sorted(os.listdir(os.path.join(main, "data")))

        # round 1: BAD batch — planted NULL event_id rows
        bad_batch = ev.filter(F.col("event_id") % 3 == 2).withColumn(
            "event_id",
            F.when(F.col("event_id") % 5 == 0, F.lit(None)).otherwise(
                F.col("event_id")
            ),
        )
        stage_bad = os.path.join(tmp, "stage_bad")
        commit_snapshot(bad_batch, stage_bad)
        if _audit(read_snapshot(spark, stage_bad)):
            raise AssertionError("bad batch passed the audit")
        # audit failed -> NO promote; main must be bit-unchanged
        if _manifests(main) != v0:
            raise AssertionError("rejected batch changed main's versions")
        if read_snapshot(spark, main).count() != n0:
            raise AssertionError("rejected batch changed main's rows")
        if sorted(os.listdir(os.path.join(main, "data"))) != files0:
            raise AssertionError("rejected batch wrote into main's data/")

        # round 2: GOOD batch — passes audit, promotes metadata-only
        good_batch = ev.filter(F.col("event_id") % 3 == 1)
        stage_good = os.path.join(tmp, "stage_good")
        commit_snapshot(good_batch, stage_good)
        if not _audit(read_snapshot(spark, stage_good)):
            raise AssertionError("good batch failed the audit")
        n_good = read_snapshot(spark, stage_good).count()
        info = promote_staged(stage_good, main, txn_id="wap-good-1")
        if info["version"] != v0[-1] + 1:
            raise AssertionError(f"promote skipped a version: {info}")
        if info["files_referenced"] == 0:
            raise AssertionError("promote referenced no files")
        if sorted(os.listdir(os.path.join(main, "data"))) != files0:
            raise AssertionError("promote copied data bytes into main")
        if read_snapshot(spark, main).count() != n0 + n_good:
            raise AssertionError("published table missing promoted rows")
        # idempotent replay: same txn -> same version, no new manifest
        replay = promote_staged(stage_good, main, txn_id="wap-good-1")
        if replay["version"] != info["version"]:
            raise AssertionError("txn replay produced a new version")
        if _manifests(main) != v0 + [info["version"]]:
            raise AssertionError("txn replay wrote a manifest")

    _ensure_fixture(fixture, _build)
    from etl_gcp_function_tmabrasil_spark.queries._util import dsum
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import read_snapshot

    return (
        read_snapshot(spark, os.path.join(fixture, "main"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("value").alias("sum_value"),
        )
        .orderBy("event_type")
    )


_SNAPSHOT_WAP_SQL = """
SELECT event_type, COUNT(*) AS n_rows,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events WHERE event_id % 3 IN (0, 1)
GROUP BY event_type ORDER BY event_type
"""

QUERIES["sink_snapshot_wap"] = sink_snapshot_wap
ORACLE["sink_snapshot_wap"] = _SNAPSHOT_WAP_SQL


def sink_snapshot_fsck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot manifest-integrity audit (round 14) — the lakehouse
    ``fsck``: prove every still-referenced data file exists with the
    row count and order-independent row hash the committing writer
    recorded (``commit_snapshot(..., integrity=True)``), and report
    data-directory orphans the next vacuum may claim. The natural WAP
    companion (``sink_snapshot_wap`` audits the incoming BATCH; this
    audits the TABLE).

    Fixture: four single-file commits (event_id % 4 slices, integrity
    recorded), then three planted faults — slice 1's file is rewritten
    with a row subset (its Hadoop ``.crc`` sidecar removed, so the
    damage is only detectable by CONTENT, exactly the bitrot/partial-
    overwrite case row hashes exist for), slice 2's file is deleted,
    and an unreferenced copy is planted as an orphan. Hard-checked at
    build: fsck attributes each fault to the right file with the right
    recorded row count, the intact slices stay ``ok``, and a pre-fault
    audit is all-``ok``. The gate returns the per-status rollup; the
    oracle derives the same rollup from the base events (file
    populations are the deterministic % 4 slices).

    Scale: fsck's verification is ONE grouped scan per distinct schema
    (per-file fallback only on unreadable batches) and the orphan walk
    is a metadata listing — the report is file-count-sized, so the
    driver-side aggregation here is metadata-sized by construction.
    """
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        commit_snapshot,
        fsck_snapshot,
    )

    fixture = fixture_dir(sf_dir, "snapshot_fsck_table")

    def _build(tmp: str) -> None:
        import glob as _glob
        import shutil as _shutil

        import pyarrow.parquet as _pq

        table = os.path.join(tmp, "table")
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        for i in range(4):
            commit_snapshot(
                ev.filter(F.col("event_id") % 4 == i).coalesce(1),
                table,
                integrity=True,
            )
        pre = fsck_snapshot(spark, table)
        if {r["status"] for r in pre} != {"ok"} or len(pre) != 4:
            raise AssertionError(f"pre-fault fsck not all-ok: {pre}")
        # manifest order == commit order: commit i wrote files[i]
        from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
            _load_manifest,
            _manifests,
        )

        files = [
            os.path.join(table, _load_manifest(table, v)["files"][-1])
            for v in _manifests(table)
        ]
        # fault 1: content corruption (subset rewrite, crc removed)
        tb = _pq.read_table(files[1])
        _pq.write_table(tb.slice(0, max(1, tb.num_rows // 2)), files[1])
        crc = os.path.join(
            os.path.dirname(files[1]),
            "." + os.path.basename(files[1]) + ".crc",
        )
        if os.path.exists(crc):
            os.remove(crc)
        # fault 2: missing file
        os.remove(files[2])
        # fault 3: orphan
        _shutil.copy(
            files[3], os.path.join(table, "data", "orphan-planted.parquet")
        )
        rep = fsck_snapshot(spark, table)
        by = {r["file"]: r for r in rep}
        rel = [os.path.relpath(f, table) for f in files]
        if by[rel[1]]["status"] != "corrupt" or by[rel[1]]["hash_ok"]:
            raise AssertionError(f"corruption not attributed: {by[rel[1]]}")
        if by[rel[2]]["status"] != "missing":
            raise AssertionError(f"missing not attributed: {by[rel[2]]}")
        if by[rel[0]]["status"] != "ok" or by[rel[3]]["status"] != "ok":
            raise AssertionError("intact files not ok")
        if by["data/orphan-planted.parquet"]["status"] != "orphan":
            raise AssertionError("planted orphan not reported")

    _ensure_fixture(fixture, _build)
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import fsck_snapshot

    rep = fsck_snapshot(spark, os.path.join(fixture, "table"))
    schema = T.StructType(
        [
            T.StructField("status", T.StringType()),
            T.StructField("rows_recorded", T.LongType()),
        ]
    )
    return (
        spark.createDataFrame(
            [(r["status"], r["rows_recorded"]) for r in rep], schema
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("rows_recorded").alias("rows_recorded"),
        )
        .orderBy("status")
    )


_SNAPSHOT_FSCK_SQL = """
WITH c AS (
  SELECT event_id % 4 AS m, COUNT(*) AS n FROM events GROUP BY 1
)
SELECT 'corrupt' AS status, CAST(1 AS BIGINT) AS n_files,
  (SELECT n FROM c WHERE m = 1) AS rows_recorded
UNION ALL SELECT 'missing', 1, (SELECT n FROM c WHERE m = 2)
UNION ALL SELECT 'ok', 2, (SELECT SUM(n) FROM c WHERE m IN (0, 3))
UNION ALL SELECT 'orphan', 1, NULL
ORDER BY status
"""

QUERIES["sink_snapshot_fsck"] = sink_snapshot_fsck
ORACLE["sink_snapshot_fsck"] = _SNAPSHOT_FSCK_SQL


def sink_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed MERGE INTO (round 14) — the Delta-style batch upsert as
    ONE copy-on-write snapshot commit (sinks/snapshot.merge_snapshot):
    source rows whose event_id exists in the table REPLACE the stored
    row, the rest INSERT, and only the files actually holding a
    matched key are rewritten.

    The r9 gate ``sink_snapshot_merge_upsert`` composes the same
    semantics from primitives as a FULL-TABLE overwrite commit; this
    verb is its scale path — O(matched files), not O(table).

    Fixture hard-checks at build: (a) the base table is committed as
    FOUR files keyed by event_id ranges, and a merge whose updates
    touch only the first range rewrites exactly ONE file — the other
    three carry forward byte-identical (copy-on-write selectivity
    proven on disk, not asserted); (b) the merged read equals
    base − matched + source exactly; (c) update/insert counts match
    the slice arithmetic; (d) replaying the same txn_id is a no-op;
    (e) a source with duplicate keys raises the multiple-match error.
    The gate returns the merged table's per-type rollup; the oracle
    recomputes it from base events (matched rows carry value+100).

    Reference parity: main.py:17's placeholder is the load step of an
    ETL whose real-world form is exactly this keyed upsert into a
    warehouse table.
    """
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        commit_snapshot,
        merge_snapshot,
        read_snapshot,
    )

    fixture = fixture_dir(sf_dir, "snapshot_merge_cow_table")

    def _build(tmp: str) -> None:
        from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
            _load_manifest,
            _manifests,
        )

        table = os.path.join(tmp, "table")
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        base = ev.filter(F.col("event_id") % 3 != 2)
        # four mod-keyed files: the update keys (%12==1) all live in
        # the %4==1 file, so copy-on-write must rewrite EXACTLY one
        for m in range(4):
            commit_snapshot(
                base.filter(F.col("event_id") % 4 == m).coalesce(1), table
            )
        files0 = list(_load_manifest(table, 4)["files"])
        n_base = read_snapshot(spark, table).count()
        updates = base.filter(F.col("event_id") % 12 == 1).withColumn(
            "value", F.col("value") + F.lit(100.0)
        )
        inserts = ev.filter(F.col("event_id") % 3 == 2)
        source = updates.unionByName(inserts)
        n_upd = updates.count()
        n_ins = inserts.count()
        if not n_upd or not n_ins:
            raise AssertionError("fixture slices must be non-empty")
        info = merge_snapshot(
            spark, table, source, "event_id", txn_id="merge-1"
        )
        if info["rows_updated"] != n_upd or info["rows_inserted"] != n_ins:
            raise AssertionError(f"merge counts off: {info}")
        if info["files_rewritten"] != 1:
            raise AssertionError(
                f"expected exactly 1 rewritten file: {info}"
            )
        # the new manifest must CARRY the three unmatched files
        # verbatim and drop exactly the one holding the matched keys
        man1 = _load_manifest(table, info["version"])
        carried = [f for f in files0 if f in set(man1["files"])]
        if len(carried) != 3 or info["files_kept"] != 3:
            raise AssertionError(
                f"copy-on-write carried {len(carried)} of 4 files"
            )
        # dropped file still on disk (old version stays readable)
        dropped = next(f for f in files0 if f not in set(man1["files"]))
        if not os.path.exists(os.path.join(table, dropped)):
            raise AssertionError("rewritten file deleted eagerly")
        if read_snapshot(spark, table, version=4).count() != n_base:
            raise AssertionError("pre-merge version no longer readable")
        merged = read_snapshot(spark, table)
        if merged.count() != n_base + n_ins:
            raise AssertionError("merged row count off")
        # idempotent replay
        replay = merge_snapshot(
            spark, table, source, "event_id", txn_id="merge-1"
        )
        if replay["version"] != info["version"]:
            raise AssertionError("txn replay produced a new version")
        # duplicate source keys must raise
        try:
            merge_snapshot(
                spark, table, source.unionByName(updates), "event_id"
            )
        except ValueError:
            pass
        else:
            raise AssertionError("duplicate-key source did not raise")

    _ensure_fixture(fixture, _build)
    from etl_gcp_function_tmabrasil_spark.queries._util import dsum
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import read_snapshot

    return (
        read_snapshot(spark, os.path.join(fixture, "table"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("value").alias("sum_value"),
        )
        .orderBy("event_type")
    )


_SNAPSHOT_MERGE_COW_SQL = """
WITH merged AS (
  SELECT event_type,
    CASE WHEN event_id % 12 = 1 THEN value + 100.0 ELSE value END AS value
  FROM events
)
SELECT event_type, COUNT(*) AS n_rows,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM merged GROUP BY event_type ORDER BY event_type
"""

QUERIES["sink_snapshot_merge"] = sink_snapshot_merge
ORACLE["sink_snapshot_merge"] = _SNAPSHOT_MERGE_COW_SQL


def sink_snapshot_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-time CHECK constraints / expectations (round 15) — Delta
    ``ALTER TABLE ADD CONSTRAINT`` invariants plus DLT-style
    expectation-with-drop, enforced relationally inside the snapshot
    commit path (sinks/snapshot.set_constraints + _enforce_constraints).
    Completes the write-time corner of the governance trio: WAP audits
    BEFORE publish (sink_snapshot_wap), fsck audits AFTER the fact
    (sink_snapshot_fsck), constraints guard the commit ITSELF.

    Fixture hard-checks at build: (a) a ``fail`` constraint
    (``value >= 0``) aborts a batch holding one planted negative row —
    manifest version and row count bit-unchanged; (b) a ``quarantine``
    constraint (``value < 100``) diverts exactly the violating slice of
    the second batch to ``<table>/quarantine/`` with ``_violations``
    tags while the clean remainder commits; (c) the committing
    manifest's ``quality`` map records the exact violation count;
    (d) declaring a ``fail`` constraint the EXISTING table already
    violates is refused (Delta's validate-existing-data behavior).

    The gate returns the per-type rollup of committed vs quarantined
    rows; the oracle recomputes the split from the raw events table
    with the same predicates.

    Scale: the audit is ONE aggregate pass over the incoming batch
    (every constraint counted simultaneously, map-side partial), the
    quarantine split two filters of the same batch — never a table
    scan; declaration cost is manifest metadata only.

    Reference parity: main.py:13-16's accept/reject filter IS a
    row-level expectation (dead-letter the rest); this verb lifts that
    semantics into the table's own metadata.
    """
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        commit_snapshot,
        read_quarantine,
        read_snapshot,
        set_constraints,
    )

    fixture = fixture_dir(sf_dir, "snapshot_constraints_table")

    def _build(tmp: str) -> None:
        from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
            ConstraintViolation,
            _load_manifest,
            _manifests,
        )

        table = os.path.join(tmp, "table")
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        base = ev.filter(F.col("event_id") % 2 == 0)
        commit_snapshot(base, table)
        n_base = read_snapshot(spark, table).count()
        set_constraints(
            spark,
            table,
            {
                "value_nonneg": "value >= 0",
                "value_cap": {
                    "expr": "value < 100",
                    "action": "quarantine",
                },
            },
        )
        # (a) fail constraint aborts; table bit-unchanged
        v_before = _manifests(table)[-1]
        poisoned = base.limit(0).unionByName(
            spark.createDataFrame(
                [(-999, "bad", -1.0)],
                "event_id long, event_type string, value double",
            )
        )
        try:
            commit_snapshot(poisoned, table)
        except ConstraintViolation:
            pass
        else:
            raise AssertionError("fail constraint did not abort")
        if _manifests(table)[-1] != v_before:
            raise AssertionError("aborted commit published a version")
        if read_snapshot(spark, table).count() != n_base:
            raise AssertionError("aborted commit changed the table")
        # (b)+(c) quarantine split of the odd slice
        batch = ev.filter(F.col("event_id") % 2 == 1)
        n_bad = batch.filter(F.col("value") >= 100).count()
        n_ok = batch.count() - n_bad
        if not n_bad or not n_ok:
            raise AssertionError("fixture slices must be non-empty")
        commit_snapshot(batch, table)
        man = _load_manifest(table, _manifests(table)[-1])
        if man.get("quality", {}).get("value_cap") != n_bad:
            raise AssertionError(f"quality counts off: {man.get('quality')}")
        if read_snapshot(spark, table).count() != n_base + n_ok:
            raise AssertionError("clean remainder did not commit")
        if read_quarantine(spark, table).count() != n_bad:
            raise AssertionError("quarantine volume off")
        # (d) adding a violated fail constraint is refused
        try:
            set_constraints(spark, table, {"impossible": "value > 1e18"})
        except ConstraintViolation:
            pass
        else:
            raise AssertionError(
                "validate_existing accepted a violated constraint"
            )

    _ensure_fixture(fixture, _build)
    from etl_gcp_function_tmabrasil_spark.queries._util import dsum

    table = os.path.join(fixture, "table")
    union = read_snapshot(spark, table).select(
        "event_type", "value", F.lit(0).alias("q")
    ).unionByName(
        read_quarantine(spark, table).select(
            "event_type", "value", F.lit(1).alias("q")
        )
    )
    return (
        union.groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("q") == 0, 1).otherwise(0)).alias("n_rows"),
            dsum(F.when(F.col("q") == 0, F.col("value"))).alias("sum_value"),
            F.sum("q").alias("n_quarantined"),
        )
        .orderBy("event_type")
    )


_SNAPSHOT_CONSTRAINTS_SQL = """
WITH tagged AS (
  SELECT event_type, value,
    CASE WHEN event_id % 2 = 1 AND value >= 100 THEN 1 ELSE 0 END AS q
  FROM events
)
SELECT event_type,
  CAST(SUM(CASE WHEN q = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rows,
  CAST(SUM(CASE WHEN q = 0 THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE)
    AS sum_value,
  CAST(SUM(q) AS BIGINT) AS n_quarantined
FROM tagged GROUP BY event_type ORDER BY event_type
"""

QUERIES["sink_snapshot_constraints"] = sink_snapshot_constraints
ORACLE["sink_snapshot_constraints"] = _SNAPSHOT_CONSTRAINTS_SQL

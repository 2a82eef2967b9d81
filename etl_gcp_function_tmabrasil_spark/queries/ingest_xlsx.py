"""Driver-visible XLSX ingestion round trip — the reference's actual
job surface (``/root/reference/main.py:12``: accept ``minha-pasta/*.xlsx``,
process the workbook, ``main.py:17``) as an ORACLE-CHECKED query.

The query fabricates a deterministic 100-row slice of ``events`` as two
XLSX workbooks under a ``minha-pasta/`` landing prefix (plus a decoy
``.csv`` the path glob must ignore, mirroring the reference's filter
R4), reads them back distributed through the engine's ingest edge
(``sources/xlsx.py``: driver-side listing → path frame → mapInPandas
tasks that open and parse each workbook → Catalyst typed casts), and returns the typed rows. The DuckDB oracle reads the
SAME slice straight from parquet — hash equality therefore proves the
entire write→parse→cast edge is lossless, including float round trips
(Python repr → string cell → double cast is exact).

Scale notes: the 100-row driver-side fabrication is test-fixture
plumbing, not the operator; the *read* path is the operator and is
per-file parallel (one task per workbook, matching the reference's
per-object invocation model, ``main.py:5``). At 100 TB the landing zone
holds many thousands of workbooks and the same plan fans their paths out
over the parse tasks; workbook bytes never leave the task that reads them.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from etl_gcp_function_tmabrasil_spark.catalog import load_table
from etl_gcp_function_tmabrasil_spark.queries._util import ensure_fixture, fixture_dir
from etl_gcp_function_tmabrasil_spark.sources.xlsx import read_xlsx, write_minimal_xlsx

_COLS = ["event_id", "user_id", "event_type", "value"]
_DDL = "event_id long, user_id long, event_type string, value double"
_N_ROWS = 100
_N_FILES = 2


def xlsx_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events slice → XLSX workbooks → distributed read-back, typed."""
    landing = fixture_dir(sf_dir, "minha-pasta")
    os.makedirs(landing, exist_ok=True)
    # pre-clean any *.xlsx already in the dir (e.g. after lowering
    # _N_FILES) so the glob reads exactly this run's workbooks
    for stale in os.listdir(landing):
        if stale.endswith(".xlsx"):
            os.unlink(os.path.join(landing, stale))
    rows = (
        load_table(spark, sf_dir, "events")
        .select(*_COLS)
        .orderBy("event_id")
        .limit(_N_ROWS)
        .collect()
    )
    per_file = _N_ROWS // _N_FILES
    for i in range(_N_FILES):
        chunk = rows[i * per_file : (i + 1) * per_file]
        write_minimal_xlsx(
            os.path.join(landing, f"part{i}.xlsx"),
            _COLS,
            [[r[c] for c in _COLS] for r in chunk],
        )
    # decoy the reference's filter must ignore (main.py:12 semantics,
    # pushed down to the scan as pathGlobFilter="*.xlsx")
    with open(os.path.join(landing, "ignore.csv"), "w") as fh:
        fh.write("event_id\n-1\n")
    return read_xlsx(spark, landing, _COLS, schema_ddl=_DDL).select(*_COLS)


_XLSX_SQL = f"""
SELECT event_id, user_id, event_type, value
FROM events
ORDER BY event_id
LIMIT {_N_ROWS}
"""

#: Dead-letter gate fixture shape (closed-form; see etl_xlsx_deadletter).
_DL_OK_ROWS = 20
#: Between the fixed zip overhead of the small fixtures (empty ~1.6 KB,
#: 20-row good ~2.1 KB) and the 300-row big workbook (~7.4 KB) — only
#: big.xlsx dead-letters as oversize; the asserts below pin all three.
_DL_MAX_BYTES = 4096


def etl_xlsx_deadletter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's R5 reject branch (``/root/reference/main.py:13``)
    in its hardened streaming form, driver-checked end-to-end: the full
    checkpointed XLSX ETL (`streaming/pipeline.run_xlsx_etl_pipeline`)
    runs over a landing batch containing one healthy workbook plus one
    of each per-object failure mode — corrupt zip, header-only sheet,
    oversized workbook, missing object — and the query returns the
    ledger rollup: ingested row count plus rejected counts per status.

    Every event lands in exactly one of the sink or the dead-letter
    table (fault isolation: the poisoned objects must not wedge the
    healthy one), so the rollup is closed-form. Re-invocation reuses
    the per-process checkpoint: the redelivered events are skipped by
    the idempotency probe and the counts are unchanged — the repeat
    run exercises exactly-once, not just the happy path.

    The streaming run is eager fixture plumbing (like the roundtrip
    query's workbook writes); the operator under test is the pipeline
    itself, whose scan fans out per-file at scale.
    """
    import json

    from pyspark.sql import functions as F

    from etl_gcp_function_tmabrasil_spark.sinks.bigquery import BigQuerySink
    from etl_gcp_function_tmabrasil_spark.streaming.pipeline import (
        run_xlsx_etl_pipeline,
    )

    root = fixture_dir(sf_dir, "etl_deadletter")
    bucket = os.path.join(root, "bucket", "minha-pasta")
    landing = os.path.join(root, "landing")
    table = "analytics.deadletter_gate"
    sink = BigQuerySink(warehouse_dir=os.path.join(root, "warehouse"))
    def _build(tmp_root: str) -> None:
        # Built under a temp name and renamed into place atomically by
        # ensure_fixture (ADVICE r5): the isdir guard must never observe
        # a fixture with only some of the five workbooks written.
        b = os.path.join(tmp_root, "bucket", "minha-pasta")
        ld = os.path.join(tmp_root, "landing")
        os.makedirs(b)
        os.makedirs(ld)
        rows = (
            load_table(spark, sf_dir, "events")
            .select(*_COLS)
            .orderBy("event_id")
            .limit(_DL_OK_ROWS)
            .collect()
        )
        write_minimal_xlsx(
            os.path.join(b, "good.xlsx"),
            _COLS,
            [[r[c] for c in _COLS] for r in rows],
        )
        with open(os.path.join(b, "corrupt.xlsx"), "wb") as fh:
            fh.write(b"this is not a zip archive")
        write_minimal_xlsx(os.path.join(b, "empty.xlsx"), _COLS, [])
        # deterministically over _DL_MAX_BYTES: 300 inline-string rows
        write_minimal_xlsx(
            os.path.join(b, "big.xlsx"),
            _COLS,
            [[i, i, f"padpadpad-{i:06d}", float(i)] for i in range(300)],
        )
        names = ["good.xlsx", "corrupt.xlsx", "empty.xlsx", "big.xlsx",
                 "missing.xlsx"]
        with open(os.path.join(ld, "ev.json"), "w") as fh:
            for i, n in enumerate(names):
                fh.write(json.dumps({
                    "bucket": "b",
                    "name": f"minha-pasta/{n}",
                    "size": 1,
                    "ts": f"2024-01-01T00:0{i}:00Z",
                }) + "\n")

    ensure_fixture(root, _build)
    assert os.path.getsize(os.path.join(bucket, "big.xlsx")) > _DL_MAX_BYTES
    assert os.path.getsize(os.path.join(bucket, "good.xlsx")) <= _DL_MAX_BYTES
    assert os.path.getsize(os.path.join(bucket, "empty.xlsx")) <= _DL_MAX_BYTES
    q = run_xlsx_etl_pipeline(
        spark,
        landing,
        os.path.join(root, "bucket"),
        sink,
        table,
        _COLS,
        _DDL,
        max_file_bytes=_DL_MAX_BYTES,
    )
    if not q.awaitTermination(300):
        # A timed-out stream would keep committing while we read the
        # half-written ledger — fail loudly instead, and remove the
        # warehouse + checkpoint so a later invocation in this process
        # replays from scratch rather than resuming a failed run's
        # state as if it had completed. The gate streams resume a
        # stopped checkpoint instead (`streaming_gate._drain`), but no
        # test yet proves this pipeline's ledger + sink replay is
        # exactly-once after a partial commit.
        import shutil

        try:
            q.stop()
        finally:
            shutil.rmtree(os.path.join(root, "warehouse"), ignore_errors=True)
            shutil.rmtree(
                os.path.join(root, "bucket", "_etl_checkpoint"),
                ignore_errors=True,
            )
        raise TimeoutError("dead-letter ETL stream did not drain in 300s")
    ok = sink.read(spark, table).agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("ok").alias("status"), "n")
    dead = (
        sink.read(spark, f"{table}_rejected")
        .groupBy(F.col("_status").alias("status"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return ok.unionByName(dead).orderBy("status")


_DEADLETTER_SQL = f"""
SELECT * FROM (VALUES
  ('empty',    CAST(1 AS BIGINT)),
  ('error',    CAST(1 AS BIGINT)),
  ('missing',  CAST(1 AS BIGINT)),
  ('ok',       CAST({_DL_OK_ROWS} AS BIGINT)),
  ('oversize', CAST(1 AS BIGINT))
) AS t(status, n)
ORDER BY status
"""


QUERIES = {
    "xlsx_ingest_roundtrip": xlsx_ingest_roundtrip,
    "etl_xlsx_deadletter": etl_xlsx_deadletter,
}

ORACLE = {
    "xlsx_ingest_roundtrip": _XLSX_SQL,
    "etl_xlsx_deadletter": _DEADLETTER_SQL,
}

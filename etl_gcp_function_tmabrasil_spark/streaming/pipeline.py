"""The reference's runtime lifecycle re-expressed in Structured Streaming
(SURVEY.md §3.1 "Spark mapping of this lifecycle"):

reference                                   this module
-----------------------------------------   ---------------------------------
Eventarc pushes CloudEvent per GCS object   readStream file source over a
  (``main.py:5``)                             landing dir (micro-batches)
per-event accept/reject filter              accept_filter / reject_filter
  (``main.py:12-14``)                         (sources/file_events.py)
print log lines (``main.py:13,16``)         accepted/rejected parquet sinks
                                              + log-line column
at-least-once Eventarc retry                checkpoint + idempotent
  (``main.tf:52``)                            foreachBatch with event dedup
max 3 instances (``main.tf:53``)            maxFilesPerTrigger / executors

Scale: the landing scan lists incrementally (file-source checkpoint log);
each micro-batch is a bounded DataFrame so every batch operator in the
engine applies; exactly-once lands via idempotent overwrite-by-batch-id.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from etl_gcp_function_tmabrasil_spark.catalog import FILE_EVENTS_WIRE_SCHEMA
from etl_gcp_function_tmabrasil_spark.sources import rows_frame, xlsx
from etl_gcp_function_tmabrasil_spark.sources.file_events import (
    accept_filter,
    normalized_events,
    reject_filter,
    with_log_line,
    with_reject_log_line,
)


def file_event_stream(
    spark: SparkSession,
    landing_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-arrival stream of JSON-encoded file events.

    The declared schema is mandatory (streaming file sources never
    infer); `maxFilesPerTrigger` is the reference's parallelism cap
    (``main.tf:53``) expressed as micro-batch admission control.
    """
    reader = spark.readStream.schema(FILE_EVENTS_WIRE_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # wire → normalized model (shared rule: size arrives as a decimal
    # string from GCS; a LongType read schema would silently null it)
    return normalized_events(reader.json(landing_dir), struct_col=None)


def run_landing_pipeline(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Run the trigger→filter→route→sink pipeline to completion.

    `foreachBatch` writes both branches per micro-batch:
    - accepted/  — events passing the reference predicate, with log_line
    - rejected/  — the dead-letter branch, with its log_line
    Batch-id partitioned output + checkpointing makes replays idempotent
    (a retried batch overwrites its own partition — the dedup the
    reference lacks under Eventarc at-least-once delivery).
    """
    stream = file_event_stream(spark, landing_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # two sinks = two actions over the same micro-batch; without the
        # persist each write re-reads and re-parses every landing file
        # admitted to the batch (the foreachBatch double-scan the
        # Structured Streaming guide warns about)
        batch_df.persist()
        try:
            accepted = with_log_line(accept_filter(batch_df))
            rejected = with_reject_log_line(reject_filter(batch_df))
            accepted.write.mode("overwrite").parquet(
                os.path.join(out_dir, "accepted", f"batch={batch_id}")
            )
            rejected.write.mode("overwrite").parquet(
                os.path.join(out_dir, "rejected", f"batch={batch_id}")
            )
        finally:
            batch_df.unpersist()

    writer = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_console_logger(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Console log sink — the reference's accept-side print
    (``/root/reference/main.py:16``: "Novo XLSX: gs://{bucket}/{name}
    (size={size})") as a streaming console sink over the accepted
    branch. Observability only; the durable branches are written by
    run_landing_pipeline."""
    stream = with_log_line(accept_filter(file_event_stream(spark, landing_dir)))
    writer = (
        stream.select("log_line")
        .writeStream.format("console")
        .option("truncate", "false")
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


#: Hard cap on the per-micro-batch accepted-name list that foreachBatch
#: materializes on the driver (the names are resolved and
#: containment-checked there, then handed to the path-driven XLSX read
#: as a parallelized path frame). ~100 bytes/name puts 100k names at
#: ~10 MB of driver heap; failing loudly beyond it beats an unbounded
#: collect() OOMing the driver.
MAX_BATCH_FILES = 100_000

def _probe_event_keys(spark, sink, tables: list[str], ev_df: DataFrame) -> set:
    """Event keys from `tables` that match this batch's keys: the key
    columns of every table the sink's `exists()` reports, unioned, then
    one broadcast semi-join and one collect (bounded by the batch's
    event count), so the data and dead-letter tables share one probe
    query.

    `exists()` is the only missing-table rule: a table it reports
    absent is an empty ledger and costs no read. A read or collect that
    fails propagates. The probe runs before the batch writes anything,
    so the failed batch lands nothing and the restart on the same
    checkpoint replays it."""
    frames = [
        sink.read(spark, t).select("_event_name", "_event_ts")
        for t in tables
        if sink.exists(spark, t)
    ]
    if not frames:
        return set()
    keys = (
        functools.reduce(DataFrame.union, frames)
        .join(F.broadcast(ev_df), ["_event_name", "_event_ts"], "left_semi")
        .distinct()
    )
    return {(r._event_name, r._event_ts) for r in keys.collect()}


def run_xlsx_etl_pipeline(
    spark: SparkSession,
    landing_dir: str,
    data_root: str,
    sink,
    table: str,
    columns: list[str],
    schema_ddl: str,
    max_files_per_trigger: int = 1024,
    max_file_bytes: int = xlsx.DEFAULT_MAX_FILE_BYTES,
) -> StreamingQuery:
    """The reference's complete intended lifecycle, end-to-end
    (``main.py:5-17`` with the placeholder body filled in):

    file-event stream → accept filter (``main.py:12``) → path-driven
    XLSX read of the referenced objects (each parse task opens its own
    objects and stamps every row with the event key it was handed) →
    typed cast → load to the BigQuery-shaped sink.

    `data_root` plays the role of the GCS bucket: accepted event `name`s
    are resolved under it. Each micro-batch reads only the files named
    by its accepted events (per-object ingest, like the reference): one
    read per event, so an object named by two events of one batch lands
    once per event. The sink append is driven from a checkpointed query.

    Admission control is ON by default: `max_files_per_trigger` bounds
    how many landing files each micro-batch admits (pass ``None`` to
    disable), and the per-batch accepted-name list is additionally
    capped at MAX_BATCH_FILES — exceeding it raises instead of silently
    collecting an unbounded list onto the driver (a landing file is one
    CloudEvent in the reference's shape, but nothing stops a producer
    from batching events per file, so the row bound is enforced, not
    assumed). `max_file_bytes` caps per-workbook size in the tolerant
    read; oversized objects dead-letter with status 'oversize' instead
    of being materialized.

    Fault isolation: one poisoned object must never wedge the
    checkpointed stream (a failed batch replays with the identical
    committed file list forever). The parse task decides each object's
    outcome itself, so missing objects (absent, or not a regular file),
    oversized workbooks, empty sheets, and parse failures are routed
    per-object to ``<table>_rejected`` (event key + status + error +
    the object's ``file:`` URI) while healthy
    objects in the same batch ingest normally — the per-invocation
    blast radius the reference gets for free from one-event-per-call.
    The idempotency probe covers BOTH tables, so a dead-lettered event
    is not re-processed on redelivery. Probe cost note: every batch asks
    the sink's `exists()` about both tables (an ``os.walk`` of the
    table dir on the parquet route), so the first batch on fresh tables
    runs no probe job and raises no exception. The probe then
    column-prunes the existing tables to the two event-key columns,
    unions them and semi-joins this batch's keys in one query. The
    sink must provide `exists()`, and its answer is the only
    missing-table rule. At very large ingest history, bound the probe
    further by partitioning the sink on an event-key bucket or keeping
    a compact ledger table.
    """
    stream = file_event_stream(spark, landing_dir, max_files_per_trigger)

    def etl(batch_df: DataFrame, batch_id: int) -> None:
        accepted = (
            accept_filter(batch_df)
            # epoch micros, NOT a collected datetime: plain collect()
            # renders timestamps as naive driver-local datetimes, whose
            # isoformat is neither timezone-stable nor injective (DST
            # fall-back collapses two instants) — unusable as a ledger
            # key. unix_micros is the instant itself.
            .select("name", F.unix_micros("ts").alias("ts_us"))
            # ordered before the limit: one TakeOrderedAndProject job
            # (a bare limit's incremental take scans 1, then 4, then the
            # remaining partitions, one job each) and a deterministic
            # event order
            .orderBy("name", "ts_us")
            .limit(MAX_BATCH_FILES + 1)
            .collect()
        )
        if not accepted:
            return
        if len(accepted) > MAX_BATCH_FILES:
            raise RuntimeError(
                f"micro-batch {batch_id} admitted > {MAX_BATCH_FILES} accepted "
                "file events; lower max_files_per_trigger or raise "
                "MAX_BATCH_FILES"
            )
        # Containment + canonicalization: the accept predicate validates
        # prefix and suffix but not '..' segments — on GCS those are
        # literal key characters, on a filesystem they'd walk out of
        # data_root and ingest an arbitrary readable .xlsx. Keying
        # everything downstream on the RESOLVED path also collapses
        # alias spellings ('minha-pasta/a.xlsx' vs
        # 'minha-pasta/b/../a.xlsx') that a raw-name key would ingest
        # twice.
        #
        # Idempotency unit = the (object, event-time) pair, not the bare
        # name: Eventarc redelivers the SAME finalize event (same name +
        # ts — dedup it, within this batch and across batches/retries),
        # while a re-UPLOAD of an object is a NEW finalize event (same
        # name, new ts) whose rows must be ingested — a name-only ledger
        # would silently drop every update. Rows land tagged with
        # (_event_name, _event_ts) so the sink + dead-letter tables ARE
        # the ledger — no separate bookkeeping table to drift.
        root = os.path.realpath(data_root)
        events: dict[tuple[str, str], str] = {}
        for r in accepted:
            p = os.path.realpath(os.path.join(data_root, r.name))
            if not p.startswith(root + os.sep):
                raise ValueError(f"file event name escapes data_root: {r.name!r}")
            canon = os.path.relpath(p, root)
            ts_s = str(r.ts_us) if r.ts_us is not None else ""
            events[(canon, ts_s)] = p
        ev_df = rows_frame(
            spark, list(events), "_event_name string, _event_ts string"
        )
        # ledger probe: broadcast-semi-join THIS batch's event keys
        # against the sink AND the dead-letter table (never an isin
        # over up to 100k literals; the collect is bounded by the
        # batch's event count, not ingest history) — a dead-lettered
        # event is as processed as an ingested one.
        already = _probe_event_keys(spark, sink, [table, f"{table}_rejected"], ev_df)
        todo = {k: p for k, p in events.items() if k not in already}
        if not todo:
            return
        # ONE path-driven read with one path-frame row per event: the
        # parse task stamps every row it yields, marker rows included,
        # with that event's key (_event_name, _event_ts). An object
        # re-uploaded under two event times in one batch is read once
        # per event and lands once per event — each finalize event is
        # processed exactly once, like the reference.
        # read_xlsx_tolerant yields >= 1 row per requested path (data
        # rows or one marker, 'missing' included), so every event lands
        # in the sink or the dead-letter table.
        keys = sorted(todo)
        # looked up on its module per batch, so a wrapper installed
        # there (a tracing timer) sees the call
        tagged = xlsx.read_xlsx_tolerant(
            spark,
            [todo[k] for k in keys],
            columns,
            schema_ddl=schema_ddl,
            max_file_bytes=max_file_bytes,
            event_keys=keys,
        )
        tagged.persist()
        try:
            data = tagged.filter(F.col("_status") == "ok").drop("_status", "_error")
            sink.write(data, table, mode="append")
            dead = tagged.filter(F.col("_status") != "ok").select(
                "_event_name", "_event_ts", "_status", "_error", "_source_file"
            )
            sink.write(dead, f"{table}_rejected", mode="append")
        finally:
            tagged.unpersist()

    return (
        stream.writeStream.foreachBatch(etl)
        .option("checkpointLocation", os.path.join(data_root, "_etl_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )

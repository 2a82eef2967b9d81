"""ETL workloads: backlog drains through ``run_xlsx_etl_pipeline``.

A drain lands a seeded backlog (workbooks under a bucket dir, one
CloudEvent per landing file), runs the pipeline's ``availableNow`` query
to termination, and checks the sink and dead-letter tables exactly
against the backlog's expected-outcome ledger. Every drain uses fresh
bucket, landing, checkpoint and warehouse dirs, so drains are
independent repetitions of the same job.
"""

from __future__ import annotations

import functools
import glob
import itertools
import os
import sys
import shutil
import time
from collections import Counter
from contextlib import nullcontext
from dataclasses import dataclass, field
from statistics import geometric_mean, median

import fixtures
from tracing import Timers, TimedSink, wrapped_xlsx_read

from etl_gcp_function_tmabrasil_spark.catalog import FILE_EVENTS_WIRE_SCHEMA
from etl_gcp_function_tmabrasil_spark.sinks.bigquery import BigQuerySink
from etl_gcp_function_tmabrasil_spark.sources.file_events import accept_filter, normalized_events
from etl_gcp_function_tmabrasil_spark.sources.xlsx import parse_xlsx_bytes
from etl_gcp_function_tmabrasil_spark.streaming.pipeline import run_xlsx_etl_pipeline

TABLE = "bench.events_ingested"

#: the measured backlog, the smaller backlog whose drains warm the JVM
#: and the Python workers up during set-up (the cold first drain costs
#: several warm ones, and a warm-up at the measured size is too slow for
#: a run's budget), the micro-batch admission cap, and the nominal
#: seconds of one warm drain on a 4-core host, which turns --seconds into
#: a fixed number of measured drains. At 240 healthy files a warm drain
#: is one micro-batch of about 6.5 s, of which about 2.7 s is per-batch
#: cost and the rest per-file work (about 15 ms per 50-row workbook).
SHAPES = {
    "etl_backlog": dict(
        backlog=dict(n_healthy=240, total_rows=12_000, n_corrupt=2, n_empty=2,
                     n_oversize=2, n_missing=2, n_redelivered=4, n_decoys=3),
        warmup=dict(n_healthy=48, total_rows=2_000, n_corrupt=1, n_empty=1,
                    n_oversize=1, n_missing=1, n_redelivered=1, n_decoys=2),
        warmup_drains=2,
        max_files=1024,
        nominal_s=6.5,
    ),
}
TINY = dict(n_healthy=6, total_rows=60, n_corrupt=1, n_empty=1, n_oversize=1,
            n_missing=1, n_redelivered=1, n_decoys=2)


@dataclass
class Drain:
    wall_s: float
    batches: list[dict]  # durationMs of every micro-batch that admitted input
    admitted: int  # landing events admitted over all micro-batches
    query_id: str = ""  # the streaming query's id: its jobs' group in the event log
    attempted: int = 0
    failed: int = 0
    counts: dict = field(default_factory=dict)
    files_written: int = 0  # parquet files in the sink and dead-letter tables
    data_bytes: int = 0  # parquet bytes of the sink table


class FailingSink:
    """Stands in for the pipeline's sink and raises on every write: the
    planted crash of the self-check (``--plant crash``)."""

    def __init__(self, sink) -> None:
        self._sink = sink

    def write(self, *args, **kwargs):
        raise RuntimeError("planted sink failure")

    def __getattr__(self, name):
        return getattr(self._sink, name)


def _drain(spark, backlog, root: str, max_files: int, wrap=None) -> Drain:
    """Land `backlog` under `root` and drain it; `wrap`, if given, wraps
    the sink handed to the pipeline."""
    bucket, landing = os.path.join(root, "bucket"), os.path.join(root, "landing")
    fixtures.land(backlog, bucket, landing)
    sink = BigQuerySink(warehouse_dir=os.path.join(root, "warehouse"))
    if wrap is not None:
        sink = wrap(sink)
    t0 = time.perf_counter()
    q = run_xlsx_etl_pipeline(
        spark, landing, bucket, sink, TABLE, fixtures.COLUMNS, fixtures.SCHEMA_DDL,
        max_files_per_trigger=max_files, max_file_bytes=fixtures.MAX_FILE_BYTES,
    )
    q.awaitTermination()
    wall = time.perf_counter() - t0
    if q.exception() is not None:
        raise RuntimeError(f"ETL drain failed: {q.exception()}")
    progress = [p for p in q.recentProgress if p.numInputRows > 0]
    return Drain(wall, [dict(p.durationMs) for p in progress],
                 sum(p.numInputRows for p in progress), str(q.id))


def _check(spark, backlog, root: str, plant: str | None) -> tuple[int, int, dict]:
    """(attempted, failed, counts) for one drain. An operation is one
    accepted landing event; every event of a key whose outcome differs
    from the ledger fails, and so does every unexpected output row.
    `counts` are measured: accepted by the engine's own accept filter
    over the landing files, ingested and dead-lettered from the two
    tables, duplicate as accepted events that did neither."""
    wh = os.path.join(root, "warehouse", *TABLE.split("."))
    data = [tuple(r) for r in spark.read.parquet(wh).select(
        *fixtures.COLUMNS, "_event_name").collect()] if os.path.isdir(wh) else []
    rej = [tuple(r) for r in spark.read.parquet(wh + "_rejected").select(
        "_event_name", "_status").collect()] if os.path.isdir(wh + "_rejected") else []
    landing = spark.read.schema(FILE_EVENTS_WIRE_SCHEMA).json(os.path.join(root, "landing"))
    accepted = accept_filter(normalized_events(landing, struct_col=None)).count()
    if plant == "row" and data:
        r = data[0]
        data[0] = (r[0], r[1], r[2], r[3] + 1.0, r[4])
    got: dict[str, Counter] = {}
    for r in data:
        got.setdefault(r[4], Counter())[r[:4]] += 1
    events = Counter(e["name"] for e in backlog.events
                     if e["name"] in backlog.rows or e["name"] in backlog.dead)
    failed = 0
    for name, want in backlog.rows.items():
        if got.get(name, Counter()) != Counter(want):
            failed += events[name]
    dead_got = Counter(rej)
    for name, status in backlog.dead.items():
        if dead_got.pop((name, status), 0) != 1:
            failed += events[name]
    failed += len(set(got) - set(backlog.rows)) + len(dead_got)  # rows the ledger never lands
    ingested = len(got)
    counts = {"accepted": accepted, "ingested": ingested, "dead": len(rej),
              "duplicate": accepted - ingested - len(rej)}
    # conservation: accepted = ingested + dead-lettered + the planted
    # redeliveries
    failed += abs(counts["duplicate"] - backlog.duplicates)
    attempted = backlog.accepted
    return attempted, min(failed, attempted), counts


def _sink_files(root: str) -> tuple[int, int]:
    """(parquet files in both tables, parquet bytes of the data table)."""
    wh = os.path.join(root, "warehouse", *TABLE.split("."))
    data = glob.glob(os.path.join(wh, "*.parquet"))
    dead = glob.glob(os.path.join(wh + "_rejected", "*.parquet"))
    return len(data) + len(dead), sum(os.path.getsize(f) for f in data)


def _tail(values: list[float]) -> tuple[float | None, float | None]:
    """(percentile, value) of the highest percentile with at least ten
    samples above it; (None, None) when there are ten samples or fewer."""
    n = len(values)
    if n <= 10:
        return None, None
    k = n - 10
    return round(100.0 * k / n, 1), sorted(values)[k - 1]


def run(spark, ctx) -> dict:
    shape = SHAPES[ctx.workload]
    t = time.perf_counter()
    backlog = fixtures.etl_backlog(ctx.seed, **(TINY if ctx.tiny else shape["backlog"]))
    warm = backlog if ctx.tiny else fixtures.etl_backlog(ctx.seed, **shape["warmup"])
    gen_s = time.perf_counter() - t
    timers = Timers() if ctx.trace else None
    numbers = itertools.count(1)

    def fresh_root() -> str:
        return os.path.join(ctx.work, f"drain{next(numbers):03d}")

    # set-up: warm-up drains pay the cold first micro-batch and JIT warm-up
    t = time.perf_counter()
    for _ in range(1 if ctx.tiny else shape["warmup_drains"]):
        root = fresh_root()
        _drain(spark, warm, root, shape["max_files"])
        shutil.rmtree(root, ignore_errors=True)
    setup_s = time.perf_counter() - t

    # a tiny run makes two drains, so a planted crash of the second one
    # shows that an aborted drain counts as failed
    n_drains = max(2 if ctx.tiny else 1, round(ctx.seconds / shape["nominal_s"]))
    drains: list[Drain] = []
    with wrapped_xlsx_read(timers) if timers else nullcontext():
        for i in range(n_drains):
            root = fresh_root()
            if ctx.plant == "crash" and i == 1:
                wrap = FailingSink
            elif timers is not None:
                wrap = functools.partial(TimedSink, timers=timers)
            else:
                wrap = None
            try:
                d = _drain(spark, backlog, root, shape["max_files"], wrap)
            except Exception as exc:  # noqa: BLE001 — counted, run goes on
                print(f"drain failed: {exc!r}", file=sys.stderr)
                drains.append(Drain(0.0, [], 0, attempted=backlog.accepted,
                                    failed=backlog.accepted))
                break
            d.attempted, d.failed, d.counts = _check(spark, backlog, root, ctx.plant)
            d.files_written, d.data_bytes = _sink_files(root)
            drains.append(d)
            shutil.rmtree(root, ignore_errors=True)
    ok = [d for d in drains if d.wall_s > 0]
    walls = [d.wall_s for d in ok]
    batch_s = [b["triggerExecution"] / 1e3 for d in ok for b in d.batches]
    drain_total = sum(walls)
    pct, batch_tail = _tail(batch_s)
    n = len(ok)

    def per_drain(key: str) -> dict:
        return {"value": sum(d.counts[key] for d in ok) / n, "unit": "count"}

    out = {
        "setup_s": setup_s,
        "groups": {"stream:" + d.query_id for d in ok},
        "reps": n,
        "attempted": sum(d.attempted for d in drains),
        "failed": sum(d.failed for d in drains),
        "work_s": median(walls),
        "op_geomean_s": geometric_mean(batch_s),
        "figures": {
            "etl_files_per_s": {"value": backlog.accepted * n / drain_total, "unit": "1/s"},
            "etl_rows_per_s": {"value": backlog.n_rows * n / drain_total, "unit": "1/s"},
            "etl_batch_p50_s": {"value": median(batch_s), "unit": "s"},
            "etl_batch_tail_s": {"value": batch_tail, "unit": "s", "percentile": pct,
                                 "batches": len(batch_s)},
            "etl.events_admitted": {"value": sum(d.admitted for d in ok) / n, "unit": "count"},
            **{f"etl.events_{k}": per_drain(k)
               for k in ("accepted", "ingested", "dead", "duplicate")},
        },
        "report": {
            "drains": len(drains),
            "drain_s": [round(w, 3) for w in walls],
            "batch_s": [round(b, 3) for b in batch_s],
            "generator_s": round(gen_s, 3),
        },
    }
    if timers is not None:
        out["layers"] = _layers(ok, timers, backlog)
    return out


def _layers(drains: list[Drain], timers: Timers, backlog) -> dict:
    def total(key: str) -> float:
        return sum(b.get(key, 0) for d in drains for b in d.batches) / 1e3

    add_batch = total("addBatch")
    io_s = timers.s["sources.xlsx.read_call"] + timers.s["sinks.write_data"] + \
        timers.s["sinks.write_dead"] + timers.s["sinks.read"]
    healthy = [backlog.files[n] for n in backlog.rows]
    t = time.perf_counter()
    for data in healthy:
        parse_xlsx_bytes(data)
    parse_ms = (time.perf_counter() - t) * 1e3 / max(1, len(healthy))
    n = len(drains) or 1
    return {
        "streaming.batches": sum(len(d.batches) for d in drains) / n,
        "streaming.get_batch_s": (total("getBatch") + total("latestOffset")) / n,
        "streaming.add_batch_s": add_batch / n,
        "streaming.commit_s": (total("walCommit") + total("commitOffsets")) / n,
        "streaming.pipeline_other_s": (add_batch - io_s) / n,
        "sources.xlsx.read_call_s": timers.s["sources.xlsx.read_call"] / n,
        "sources.xlsx.parse_ms_per_file": parse_ms,
        "sinks.write_data_s": timers.s["sinks.write_data"] / n,
        "sinks.write_dead_s": timers.s["sinks.write_dead"] / n,
        "sinks.read_s": timers.s["sinks.read"] / n,
        "sinks.files_written": sum(d.files_written for d in drains) / n,
        "sinks.bytes_per_row": sum(d.data_bytes for d in drains) / n / max(1, backlog.n_rows),
    }

"""Tracing from outside the engine: timers around public calls, a timing
sink proxy, a module-level wrapper around the tolerant XLSX read, the
JVM's peak RSS, and a standard-library fold of Spark's event log by job
group. Nothing here changes engine code; everything wraps it."""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Timers:
    """Named wall-clock accumulators: total seconds per name."""

    def __init__(self) -> None:
        self.s: dict[str, float] = defaultdict(float)

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.s[name] += time.perf_counter() - t0

    def wrap(self, name: str, fn):
        def timed(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return timed


class TimedSink:
    """Stands in for a sink object passed to the pipeline: forwards every
    call, timing write() separately for the data and dead-letter tables
    and timing read()."""

    def __init__(self, sink, timers: Timers) -> None:
        self._sink = sink
        self._timers = timers

    def write(self, df, table, *args, **kwargs):
        kind = "sinks.write_dead" if table.endswith("_rejected") else "sinks.write_data"
        with self._timers.span(kind):
            return self._sink.write(df, table, *args, **kwargs)

    def read(self, spark, table):
        with self._timers.span("sinks.read"):
            return self._sink.read(spark, table)

    def __getattr__(self, name):
        return getattr(self._sink, name)


@contextmanager
def wrapped_xlsx_read(timers: Timers):
    """Time every ``sources.xlsx.read_xlsx_tolerant`` call. The pipeline
    imports the function from its module at call time, so replacing the
    module attribute reaches it."""
    from etl_gcp_function_tmabrasil_spark.sources import xlsx

    original = xlsx.read_xlsx_tolerant
    xlsx.read_xlsx_tolerant = timers.wrap("sources.xlsx.read_call", original)
    try:
        yield
    finally:
        xlsx.read_xlsx_tolerant = original


def jvm_pid(spark) -> int | None:
    try:
        return int(spark.sparkContext._jvm.ProcessHandle.current().pid())
    except Exception:  # noqa: BLE001 — observability only
        return None


def peak_rss_mb(pid: int | None) -> float:
    """Peak resident set (VmHWM) of a live process, in MiB; 0 if unknown."""
    if pid is None:
        return 0.0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    # plain JSON lines in one file: the zstd rolling default of Spark 4.1
    # cannot be read with the standard library
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

TASK_FIELDS = (
    "tasks", "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "shuffle_fetch_wait_s", "spill_bytes", "input_bytes",
)


def fold_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Sum ``SparkListenerTaskEnd`` metrics per job group; each group also
    counts its jobs. A streaming query's micro-batch jobs run on the
    query's own thread under a group the query sets itself, and fold
    under ``"stream:<query id>"``; ungrouped jobs fold under ``""``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(("jobs",) + TASK_FIELDS, 0.0))
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    if props.get("sql.streaming.queryId"):
                        group = "stream:" + props["sql.streaming.queryId"]
                    else:
                        group = props.get("spark.jobGroup.id") or ""
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    g = out[stage_group.get(ev.get("Stage ID"), "")]
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    g["tasks"] += 1
                    g["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    g["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    g["shuffle_fetch_wait_s"] += rd.get("Fetch Wait Time", 0) / 1e3
                    g["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    g["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return dict(out)


def sum_groups(folded: dict[str, dict[str, float]], groups: set[str]) -> dict[str, float]:
    """Totals over the named job groups."""
    total = dict.fromkeys(("jobs",) + TASK_FIELDS, 0.0)
    for group, vals in folded.items():
        if group in groups:
            for k, v in vals.items():
                total[k] += v
    return total

"""Driver-checkable STREAMING-RUNTIME queries — the Structured
Streaming surfaces batch queries cannot pin (watermark advancement
and append-mode window finalization across micro-batches, stateful
dedup under redelivery, the checkpointed parquet streaming sink)
exercised inside an oracle-checked query, the same pattern as the
dead-letter ETL gate (`ingest_xlsx.etl_xlsx_deadletter`).

Each query replays the sf_dir `events` table as a time-ordered chunked
file stream (one file per micro-batch), runs a real `availableNow`
streaming job into a checkpointed parquet sink, reads the sink back,
and returns a deterministic rollup whose DuckDB oracle is plain batch
SQL over `events`:

- `stream_tumbling_watermark`: append-mode tumbling windows finalize
  exactly when the watermark passes their end, so the emitted set is
  closed-form — every window with end <= max(ts) (probed: 8015/8016
  windows at sf0.01; only the window containing max(ts) is withheld).
  Aggregates use the engine's deterministic-sum discipline (csum) so
  the cross-micro-batch accumulation is order-exact.
- `stream_dedup_redelivery`: every chunk is delivered TWICE (the
  at-least-once redelivery the reference's Eventarc trigger implies,
  ``/root/reference/main.tf:52``); dropDuplicatesWithinWatermark must
  pass each event exactly once, so the sink rollup equals the batch
  rollup of `events` itself.

The windowed gates and the dedup gate call the operators of
streaming/windows.py (the batch queries in events_json.py call the same
ones), and every gate stream runs through one drain, `_drain`.
Re-invocation reuses the per-process checkpoint: no new files, no new
micro-batches, identical sink — the repeat run exercises restart
semantics rather than rebuilding state.

Scale notes: the chunk fixture is test plumbing; the operators under
test are the streaming plans themselves, whose state is bounded by the
watermark horizon and whose sink commits are per-micro-batch atomic —
the same plan shape at any corpus size.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from etl_gcp_function_tmabrasil_spark.catalog import EVENTS_SCHEMA, load_table
from etl_gcp_function_tmabrasil_spark.queries._util import (
    csum,
    ensure_fixture,
    fixture_dir,
    second,
)
from etl_gcp_function_tmabrasil_spark.sinks.partitioned import heal_and_swap
from etl_gcp_function_tmabrasil_spark.streaming.windows import (
    click_purchase_attribution,
    enrich_stream_with_customer,
    session_counts,
    sliding_counts,
    stateful_dedup,
    tumbling_counts,
)

_N_CHUNKS = 3


def _write_chunks(sf_dir: str, out: str, copies: int, hold_back=None) -> None:
    """Write `events` into the new dir `out` as time-ordered parquet
    chunks with distinct mtimes (the file source admits oldest-first,
    so chunk order — and therefore watermark advancement — is
    deterministic); `copies` > 1 re-delivers each chunk as a separate
    later file; `hold_back` (row-mask callable on the pandas frame)
    carves out a subset that is delivered as one extra LAST file —
    after the watermark has passed the held-back rows' event times (the
    late-data fixture). Callers publish the dir through
    `ensure_fixture`, so a mid-write crash never leaves a partial
    fixture behind."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out)
    tbl = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    pdf = tbl.to_pandas().sort_values(["ts", "event_id"]).reset_index(drop=True)
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    held = None
    if hold_back is not None:
        mask = hold_back(pdf)
        held = pdf[mask]
        pdf = pdf[~mask].reset_index(drop=True)
    n = len(pdf)
    for i in range(_N_CHUNKS):
        chunk = pa.Table.from_pandas(
            pdf.iloc[i * n // _N_CHUNKS : (i + 1) * n // _N_CHUNKS],
            preserve_index=False,
        )
        for c in range(copies):
            pq.write_table(chunk, os.path.join(out, f"chunk_{i}_copy{c}.parquet"))
            time.sleep(0.05)
    if held is not None:
        pq.write_table(
            pa.Table.from_pandas(held, preserve_index=False),
            os.path.join(out, "chunk_late.parquet"),
        )


def _shared_chunks(sf_dir: str) -> str:
    """One per-sf chunk fixture shared by every copies=1 gate query
    (the checkpoint/sink stay per-query) — five identical pyarrow
    fixture builds saved per process."""
    out = fixture_dir(sf_dir, "chunks1")
    ensure_fixture(out, lambda tmp: _write_chunks(sf_dir, tmp, copies=1))
    return out


def _sentinel_chunks(sf_dir: str) -> str:
    """The copies=1 chunk fixture plus TWO far-future SENTINEL clicks
    (user_id -1, max real ts + 7/+8 days) delivered as the two LAST
    files — the flush-marker pattern: the sentinels drag the watermark
    far past every real row's join-state retention bound, so outer
    joins emit their complete null-row set deterministically instead
    of depending on Spark's (unpinned) eviction slack at stream end.

    TWO sentinel waves because stream-stream joins get no no-data
    flush batch under availableNow and a batch evicts state with the
    watermark computed from the PREVIOUS batch's data (measured: a
    single +7d sentinel left the last real batch's young unmatched
    purchases in state — its own batch still ran on the pre-sentinel
    watermark). The second wave's batch runs on the first wave's
    watermark, which already clears every real row.

    Each wave carries BOTH event types: the join watermarks each input
    separately and the global watermark is their MIN
    (multipleWatermarkPolicy=min), so a click-only sentinel never
    advances the purchase side and eviction stalls (measured before
    this fixture carried pairs). The sentinel pair matches only
    itself (user_id -1) and the gate projection filters user_id >= 0,
    so no sentinel row reaches the output."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    def build(tmp: str) -> None:
        _write_chunks(sf_dir, tmp, copies=1)
        tbl = pq.read_table(os.path.join(sf_dir, "events.parquet"))
        last = tbl.to_pandas().sort_values("ts").tail(1).reset_index(drop=True)
        eid = -1
        for i, days in enumerate((7, 8)):
            pdf = pd.concat([last, last], ignore_index=True)
            pdf["ts"] = (pdf["ts"] + pd.Timedelta(days=days)).astype("datetime64[us]")
            pdf["event_id"] = [eid, eid - 1]
            eid -= 2
            pdf["user_id"] = -1
            pdf["event_type"] = ["click", "purchase"]
            pdf["value"] = 0.0
            time.sleep(0.05)  # strictly later mtime -> admitted in order
            pq.write_table(
                pa.Table.from_pandas(pdf, preserve_index=False),
                os.path.join(tmp, f"chunk_zz_sentinel{i}.parquet"),
            )

    out = fixture_dir(sf_dir, "chunks_sentinel")
    ensure_fixture(out, build)
    return out


def _stream(
    spark: SparkSession, chunks: str, files_per_trigger: int | None = 1
) -> DataFrame:
    """File-source stream over the chunk fixture. The default
    one-file-per-trigger batching is SEMANTICALLY load-bearing for
    most gates (watermark advancement order, redelivery across
    batches, sentinel flush waves) and must stay 1 there. Pass
    ``files_per_trigger=None`` where per-file replay is NOT part of
    the semantics under test: availableNow then drains everything in
    one data batch + the no-data flush — trigger sizing, the standard
    streaming throughput knob (fewer, larger batches amortize the
    per-batch state-store commit/checkpoint cost)."""
    r = spark.readStream.schema(EVENTS_SCHEMA)
    if files_per_trigger is not None:
        r = r.option("maxFilesPerTrigger", files_per_trigger)
    return r.parquet(chunks)


def _drain(
    df: DataFrame, root: str, sink=None, mode: str = "append", timeout: float = 300
) -> str:
    """Run `df` to completion as one availableNow query checkpointed at
    ``<root>/ck``: into the parquet sink ``<root>/data`` (returned), or
    through the foreachBatch function `sink`. Every gate stream drains
    here. On timeout it stops the query and raises TimeoutError instead
    of returning: a timed-out run would otherwise keep committing in
    the background while the caller reads a half-written sink (and a
    re-invocation would then collide on the live checkpoint)."""
    data = os.path.join(root, "data")
    w = df.writeStream.outputMode(mode).option(
        "checkpointLocation", os.path.join(root, "ck")
    )
    w = w.foreachBatch(sink) if sink else w.format("parquet").option("path", data)
    query = w.trigger(availableNow=True).start()
    if not query.awaitTermination(timeout):
        try:
            query.stop()
        finally:
            raise TimeoutError(
                f"streaming gate query did not drain within {timeout}s"
            )
    return data


def _max_ts(spark: SparkSession, sf_dir: str):
    """The final watermark of a 0-second-delay replay: max(events.ts)."""
    return load_table(spark, sf_dir, "events").agg(F.max("ts")).collect()[0][0]


def _finalized(
    spark: SparkSession, data: str, max_ts, end: str, *cols: str
) -> DataFrame:
    """Shared postlude of the windowed gates: read the sink back, keep
    the finalized windows (`end` <= the final watermark — the probed
    closed form), render the timestamp columns to seconds, and order
    by the first two columns."""
    sink = spark.read.parquet(data)
    ts = {c for c, t in sink.dtypes if t == "timestamp"}
    return (
        sink.filter(F.col(end) <= F.lit(max_ts))
        .select(*[second(c).alias(c) if c in ts else c for c in cols])
        .orderBy(*cols[:2])
    )


def _finalized_windows(spark: SparkSession, data: str, max_ts) -> DataFrame:
    cols = ("window_start", "event_type", "n", "sum_value")
    return _finalized(spark, data, max_ts, "window_end", *cols)


def run_tumbling_stream(spark: SparkSession, chunks: str, root: str) -> str:
    """One end-to-end availableNow run of the watermarked tumbling agg
    into a checkpointed parquet sink under `root`; returns the sink
    data path. Shared by the gate query below and by bench.py's
    streaming headline (which times this call against FRESH roots so
    each measured run replays all micro-batches instead of no-op
    restarting on an existing checkpoint)."""
    # files_per_trigger=None (r15): the finalized-window result is
    # independent of replay batching (append mode emits every window
    # with end <= the FINAL watermark, and availableNow's no-data
    # flush always advances it to max ts — verified vs oracle at all
    # three SFs), so this path takes the throughput batching: one
    # data batch instead of one per chunk file, amortizing the
    # per-batch state-store commit + checkpoint + sink-commit cost
    # that dominated the measured runtime (sf0.1 min-of-3: 3.63 s ->
    # 2.2 s). Gates whose SEMANTICS need per-file replay (late data,
    # redelivery, sentinel waves) keep the default — _stream docstring.
    events = _stream(spark, chunks, files_per_trigger=None)
    return _drain(tumbling_counts(events, "6 hours", "0 seconds"), root)


def stream_tumbling_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window agg (streaming/windows.tumbling_counts)
    through the real streaming runtime; its csum keeps the cross-batch
    accumulation exact. Emitted = finalized: windows with end <= max(ts)."""
    data = run_tumbling_stream(
        spark, _shared_chunks(sf_dir), fixture_dir(sf_dir, "tumbling")
    )
    return _finalized_windows(spark, data, _max_ts(spark, sf_dir))


_TUMBLING_STREAM_SQL = """
SELECT strftime(time_bucket(INTERVAL '6 hours', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
  event_type, COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events
WHERE time_bucket(INTERVAL '6 hours', ts) + INTERVAL '6 hours'
      <= (SELECT max(ts) FROM events)
GROUP BY window_start, event_type
ORDER BY window_start, event_type
"""


def stream_dedup_redelivery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark (streaming/windows.stateful_dedup)
    under at-least-once redelivery: every chunk is delivered twice in
    separate micro-batches; the watermark horizon (90 days > the
    table's span) keeps all dedup state live, so each event passes
    exactly once and the sink rollup equals the batch rollup of
    `events`."""
    root = fixture_dir(sf_dir, "dedup")
    chunks = os.path.join(root, "chunks")
    ensure_fixture(chunks, lambda tmp: _write_chunks(sf_dir, tmp, copies=2))
    data = _drain(stateful_dedup(_stream(spark, chunks), "90 days"), root)
    return (
        spark.read.parquet(data)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("event_id").alias("n_ids"),
            csum("value").alias("sum_value"),
        )
        .orderBy("event_type")
    )


_DEDUP_STREAM_SQL = """
SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT event_id) AS n_ids,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


#: Deterministic "late" subset for stream_late_data_drop: ~1% of events,
#: restricted to the first week of the 30-day timeline. The time bound
#: is what makes the drop provable: Spark's late-input filter uses the
#: watermark committed for the CURRENT batch, which trails the data by
#: one micro-batch (measured here: replaying late rows after three
#: sorted chunks admitted exactly those whose window ended after the
#: BATCH-2 watermark — the max of chunks 0-1 — even though the batch-3
#: watermark had passed the whole timeline). Bounding late rows to
#: window ends <= Jan 8 06:00 puts them far below even the batch-1
#: watermark (~Jan 11, the first-third boundary), so every late row is
#: dropped under one- OR two-batch watermark lag.
_LATE_MOD = 97
_LATE_CUTOFF = "2024-01-08 00:00:00"


def stream_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA semantics through the runtime: the on-time
    rows replay in three sorted chunks, then the late subset (~1% of
    the first week — see _LATE_CUTOFF for why the time bound matters)
    arrives in a final chunk after the watermark has passed the whole
    on-time timeline. Every late row's window is finalized by then, so
    Spark must drop all of them: emitted = tumbling windows over the
    ON-TIME rows only, with end <= max on-time ts — closed-form from
    the base table."""
    import pandas as pd

    root = fixture_dir(sf_dir, "late_drop")
    chunks = os.path.join(root, "chunks")
    ensure_fixture(
        chunks,
        lambda tmp: _write_chunks(
            sf_dir,
            tmp,
            copies=1,
            hold_back=lambda pdf: (pdf["event_id"] % _LATE_MOD == 0)
            & (pdf["ts"] < pd.Timestamp(_LATE_CUTOFF)),
        ),
    )
    agg = tumbling_counts(_stream(spark, chunks), "6 hours", "0 seconds")
    data = _drain(agg, root)
    max_ts = (
        load_table(spark, sf_dir, "events")
        .filter(
            ~(
                (F.col("event_id") % _LATE_MOD == 0)
                & (F.col("ts") < F.lit(_LATE_CUTOFF).cast("timestamp"))
            )
        )
        .agg(F.max("ts"))
        .collect()[0][0]
    )
    return _finalized_windows(spark, data, max_ts)


_LATE_DROP_SQL = f"""
WITH ontime AS (
  SELECT * FROM events
  WHERE NOT (event_id % {_LATE_MOD} = 0
             AND ts < TIMESTAMP '{_LATE_CUTOFF}')
)
SELECT strftime(time_bucket(INTERVAL '6 hours', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
  event_type, COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM ontime
WHERE time_bucket(INTERVAL '6 hours', ts) + INTERVAL '6 hours'
      <= (SELECT max(ts) FROM ontime)
GROUP BY window_start, event_type
ORDER BY window_start, event_type
"""


def stream_session_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (30-minute gap) through the streaming
    runtime — the one window type whose streaming behavior (sessions
    MERGING across micro-batches until the watermark passes their end)
    a batch run cannot exhibit. Emitted = finalized: sessions with
    end (= last event + gap) <= max(ts) at the 0-second watermark."""
    events = _stream(spark, _shared_chunks(sf_dir))
    agg = session_counts(events, "30 minutes", "0 seconds")
    data = _drain(agg, fixture_dir(sf_dir, "session"))
    cols = ("user_id", "session_start", "n_events", "sum_value")
    return _finalized(spark, data, _max_ts(spark, sf_dir), "session_end", *cols)


# gaps-and-islands oracle for Spark's session_window, restricted to
# finalized sessions: last event + gap <= global max ts.
# TIE HAZARD (hit at sf1, r8): BOTH window clauses must share a TOTAL
# order (ts, event_id). Ordered on ts alone, duplicate-ts rows are
# framed arbitrarily and INDEPENDENTLY by the two evaluations, so a
# tie ordered before its group's flag-bearer in the running SUM
# attaches to the previous session — Spark's session_window is
# set-semantic over intervals and never splits a tie group.
# Boundary semantics (measured, Spark 4.1.2; pinned by
# tests/test_streaming.py::test_session_window_exact_gap_merges):
# an event at exactly prev_ts + gap MERGES into the session — Spark
# extends the session while event_time <= current end, so only a
# strictly-greater gap starts a new session. Hence `>` here, not `>=`.
_SESSION_STREAM_SQL = """
WITH marked AS (
  SELECT user_id, ts, value, event_id,
    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id)
              > INTERVAL '30 minutes'
         OR LAG(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) IS NULL
         THEN 1 ELSE 0 END AS new_session
  FROM events
),
sess AS (
  SELECT user_id, ts, value,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked
)
SELECT user_id,
  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM sess
GROUP BY user_id, sid
HAVING MAX(ts) + INTERVAL '30 minutes' <= (SELECT max(ts) FROM events)
ORDER BY user_id, session_start
"""


def stream_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a DYNAMIC, per-event gap — the
    session_window(ts, Column) form (Spark 3.2+): an event keeps its
    session alive for an event-type-dependent horizon (purchase 60 min,
    click 30, anything else 15 — the engagement-weighted sessionization
    real funnels use, where a purchase signals continued intent long
    after a stray pageview would have timed out).

    Semantics under test, pinned by the oracle AND by the output's
    explicit session_end column: every event spans [ts, ts + gap(event));
    overlapping spans merge, so a session's end is MAX(ts + gap) over
    its members — NOT last-event + constant — and an event at exactly
    the running end still merges (the fixed-gap gate's measured
    boundary rule, same engine code path; re-pinned for the dynamic
    form by tests/test_streaming.py). Emitted = finalized sessions
    (end <= final watermark = max ts at the 0-second delay). The batch
    oracle is gaps-and-islands over the running MAX(ts + gap) — the
    running max matters: a long-gap event deep inside a session can
    outlive several short-gap successors.
    """
    gap = (
        F.when(F.col("event_type") == "purchase", "60 minutes")
        .when(F.col("event_type") == "click", "30 minutes")
        .otherwise("15 minutes")
    )
    events = _stream(spark, _shared_chunks(sf_dir))
    agg = session_counts(events, gap, "0 seconds")
    data = _drain(agg, fixture_dir(sf_dir, "session_dynamic"))
    cols = ("user_id", "session_start", "session_end", "n_events", "sum_value")
    return _finalized(spark, data, _max_ts(spark, sf_dir), "session_end", *cols)


# gaps-and-islands oracle for the DYNAMIC-gap session window: each event
# extends the session to ts + gap(event_type); a new session starts
# only when ts exceeds the running MAX of all previous ends (strictly —
# the measured merge-on-equal boundary, as in _SESSION_STREAM_SQL).
# Total (ts, event_id) order in both windows — see the tie hazard note
# on _SESSION_STREAM_SQL (this oracle is where it was caught: 7 of
# 95927 sessions split at sf1's 10x-duplicate fixture).
_SESSION_DYNAMIC_SQL = """
WITH g AS (
  SELECT user_id, ts, value, event_id,
    CASE event_type WHEN 'purchase' THEN INTERVAL '60 minutes'
                    WHEN 'click' THEN INTERVAL '30 minutes'
                    ELSE INTERVAL '15 minutes' END AS gap
  FROM events
),
marked AS (
  SELECT user_id, ts, value, gap, event_id,
    CASE WHEN prev_end IS NULL OR ts > prev_end THEN 1 ELSE 0 END
      AS new_session
  FROM (
    SELECT *,
      MAX(ts + gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev_end
    FROM g
  )
),
sess AS (
  SELECT user_id, ts, value, gap,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS sid
  FROM marked
)
SELECT user_id,
  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
  strftime(MAX(ts + gap), '%Y-%m-%d %H:%M:%S') AS session_end,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM sess
GROUP BY user_id, sid
HAVING MAX(ts + gap) <= (SELECT max(ts) FROM events)
ORDER BY user_id, session_start
"""


def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (click→purchase
    attribution, streaming/windows.click_purchase_attribution) through
    the runtime: with the backlog replayed in time order, state expiry
    never drops an eligible click before its purchase arrives, so the
    emitted inner join equals the batch interval join exactly."""
    root = fixture_dir(sf_dir, "interval_join")
    chunks = _shared_chunks(sf_dir)
    s = _stream(spark, chunks)
    joined = click_purchase_attribution(
        s.filter(F.col("event_type") == "click"),
        s.filter(F.col("event_type") == "purchase"),
    )
    data = _drain(joined, root)
    return (
        spark.read.parquet(data)
        .select(
            "user_id",
            "purchase_id",
            "click_id",
            F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_s"),
            F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_s"),
            "value",
        )
        .orderBy("user_id", "purchase_id", "click_id")
    )


_INTERVAL_JOIN_SQL = """
SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_s,
  strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_s,
  p.value
FROM events p
JOIN events c
  ON c.user_id = p.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL '30 minutes'
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
ORDER BY p.user_id, purchase_id, click_id
"""


def stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER interval join — the same
    click→purchase attribution, plus every UNATTRIBUTED purchase as a
    null-click row (the organic-conversion report). The semantics
    under test are the OUTER-specific ones: null rows surface on
    STATE EVICTION, never on arrival (a premature null alongside a
    later match would double-count the purchase), so rows still
    protected by the join-state retention when the stream ends are
    withheld.

    Eviction timing is an implementation detail deliberately kept OUT
    of the oracle: Spark retains outer-side state past the naive
    watermark-minus-interval bound, and the measured cutoff is not a
    stable closed form across fixtures (sf0.01's final flush emitted
    1956/1958 unmatched rows consistent with max_ts - 2*30min, but
    sf0.001 withheld a row 1h47m behind the front). Instead the
    fixture appends far-future SENTINEL waves (user_id -1; a
    click+purchase pair at +7 days, another at +8 — see
    _sentinel_chunks for why a pair and why twice) as the final
    chunks — the flush-marker pattern any production pipeline uses to
    close books — driving both sides' watermarks far past every real
    purchase's retention bound, so the emitted set is DETERMINISTIC:
    all matched rows plus ALL unmatched real purchases (the oracle is
    the plain batch left join). The sentinels match only each other
    and are filtered from the read-back by user_id.

    Null click columns are coalesced to sentinels (-1 / 'none') so
    the output schema is null-free for the dtype-sensitive hash
    compare — the join_full_outer convention.
    """
    root = fixture_dir(sf_dir, "interval_join_outer")
    chunks = _sentinel_chunks(sf_dir)
    s = _stream(spark, chunks)
    joined = click_purchase_attribution(
        s.filter(F.col("event_type") == "click"),
        s.filter(F.col("event_type") == "purchase"),
        how="leftOuter",
    )
    data = _drain(joined, root)
    return (
        spark.read.parquet(data)
        .filter(F.col("user_id") >= 0)  # drop the sentinel pair's self-match
        .select(
            "user_id",
            "purchase_id",
            F.coalesce("click_id", F.lit(-1)).alias("click_id"),
            F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_s"),
            F.coalesce(
                F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss"), F.lit("none")
            ).alias("click_s"),
            "value",
        )
        .orderBy("user_id", "purchase_id", "click_id")
    )


def stream_interval_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT SEMI interval join — "purchases
    with at least one qualifying click", emitted EXACTLY ONCE however
    many clicks match (the existence-check companion of the inner and
    outer attribution gates; dedup-free conversion counting is its
    production use). Semi rows emit on first match, not on eviction,
    so determinism needs only the replay invariant the inner gate
    already relies on: the join condition bounds click_ts <=
    purchase_ts, and the time-ordered chunk replay delivers every
    qualifying click no later than its purchase's batch — no eligible
    pair is ever split across an expired-state boundary. The oracle is
    the batch EXISTS semantics; duplicate emission (the semi-specific
    failure mode — one row per matching click instead of one per
    purchase) breaks the row-count compare immediately.
    """
    root = fixture_dir(sf_dir, "interval_join_semi")
    chunks = _shared_chunks(sf_dir)
    s = _stream(spark, chunks)
    joined = click_purchase_attribution(
        s.filter(F.col("event_type") == "click"),
        s.filter(F.col("event_type") == "purchase"),
        how="leftSemi",
    )
    data = _drain(joined, root)
    return (
        spark.read.parquet(data)
        .select(
            "user_id",
            "purchase_id",
            F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_s"),
            "value",
        )
        .orderBy("user_id", "purchase_id")
    )


def stream_chained_window_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful operators in one streaming query — two
    watermarked windowed aggregations back-to-back (Spark's
    multiple-stateful-operator support): a per-(day, user_id) event
    count feeding a per-day rollup, i.e. the daily-active-users report
    with the distinct computed STRUCTURALLY (one state row per
    (day, user) in operator 1; operator 2 just counts rows — no
    distinct aggregate, which streaming doesn't support, anywhere).
    The second groupBy windows over the FIRST window column
    (`window(w, '1 day')` on a window struct — the documented chaining
    form), so late data and finalization flow through both state
    stores.

    Measured semantics: the availableNow no-data flush propagates
    through BOTH operators within the final batch — emitted days obey
    the same closed form as the single-op tumbling gate (end <= final
    watermark; verified 29/30 days at sf0.001 with only the
    max-ts-containing day withheld). At 100 TB this shape replaces the
    classic two-job "dedup then rollup" pipeline: both phases share
    one shuffle service pass and one checkpoint, and state stays
    bounded by (days in watermark) × users, not the event stream.
    """
    root = fixture_dir(sf_dir, "chained_window_distinct")
    chunks = _shared_chunks(sf_dir)
    per_user = (
        _stream(spark, chunks)
        .withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 day").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_ev"))
    )
    daily = (
        per_user.groupBy(F.window("w", "1 day").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("n_ev").alias("n_events"),
        )
        .select(
            F.col("d.start").alias("ds"),
            F.col("d.end").alias("de"),
            "n_users",
            "n_events",
        )
    )
    data = _drain(daily, root)
    return (
        spark.read.parquet(data)
        .filter(F.col("de") <= F.lit(_max_ts(spark, sf_dir)))
        .select(
            F.date_format("ds", "yyyy-MM-dd").alias("day"),
            "n_users",
            "n_events",
        )
        .orderBy("day")
    )


_CHAINED_WINDOW_SQL = """
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
  COUNT(DISTINCT user_id) AS n_users,
  COUNT(*) AS n_events
FROM events
WHERE CAST(CAST(ts AS DATE) AS TIMESTAMP) + INTERVAL '1 day'
      <= (SELECT MAX(ts) FROM events)
GROUP BY day
ORDER BY day
"""


def stream_interval_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream FULL OUTER interval join — completes
    the attribution family (inner / leftOuter / leftSemi gates above):
    matched click→purchase pairs PLUS every unattributed purchase
    (null click columns — organic conversions) PLUS every
    non-converting click (null purchase columns — the abandoned-intent
    side only the full join surfaces). Null rows on BOTH sides emit on
    STATE EVICTION, so determinism rides the same sentinel-flush
    bookkeeping as the left-outer gate: the fixture's two far-future
    sentinel waves (each carrying both event types — the global
    watermark is the MIN over both inputs) drag eviction past every
    real row, making the emitted set exactly the batch FULL OUTER
    interval join. Sentinels match only themselves (user_id -1) and
    are filtered from the read-back; null sides are coalesced to
    sentinels (-1 / 'none' / -1.0) for the dtype-sensitive hash
    compare — the join_full_outer convention.
    """
    root = fixture_dir(sf_dir, "interval_join_full")
    chunks = _sentinel_chunks(sf_dir)
    s = _stream(spark, chunks)
    joined = click_purchase_attribution(
        s.filter(F.col("event_type") == "click"),
        s.filter(F.col("event_type") == "purchase"),
        how="fullOuter",
    )
    data = _drain(joined, root)
    return (
        spark.read.parquet(data)
        .filter(F.col("user_id") >= 0)  # drop the sentinel pairs' self-matches
        .select(
            "user_id",
            F.coalesce("purchase_id", F.lit(-1)).alias("purchase_id"),
            F.coalesce("click_id", F.lit(-1)).alias("click_id"),
            F.coalesce(
                F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss"), F.lit("none")
            ).alias("purchase_s"),
            F.coalesce(
                F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss"), F.lit("none")
            ).alias("click_s"),
            F.coalesce("value", F.lit(-1.0)).alias("value"),
        )
        .orderBy("user_id", "purchase_id", "click_id")
    )


_INTERVAL_JOIN_FULL_SQL = """
WITH c AS (
  SELECT user_id AS cu, event_id AS click_id, ts AS cts
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT user_id, event_id AS purchase_id, ts AS pts, value
  FROM events WHERE event_type = 'purchase'
)
SELECT COALESCE(p.user_id, c.cu) AS user_id,
  COALESCE(p.purchase_id, -1) AS purchase_id,
  COALESCE(c.click_id, -1) AS click_id,
  COALESCE(strftime(p.pts, '%Y-%m-%d %H:%M:%S'), 'none') AS purchase_s,
  COALESCE(strftime(c.cts, '%Y-%m-%d %H:%M:%S'), 'none') AS click_s,
  COALESCE(p.value, -1.0) AS value
FROM p FULL OUTER JOIN c
  ON c.cu = p.user_id
 AND c.cts <= p.pts
 AND c.cts >= p.pts - INTERVAL '30 minutes'
ORDER BY user_id, purchase_id, click_id
"""


_INTERVAL_JOIN_SEMI_SQL = """
SELECT p.user_id, p.event_id AS purchase_id,
  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_s,
  p.value
FROM events p
WHERE p.event_type = 'purchase'
  AND EXISTS (
    SELECT 1 FROM events c
    WHERE c.event_type = 'click'
      AND c.user_id = p.user_id
      AND c.ts <= p.ts
      AND c.ts >= p.ts - INTERVAL '30 minutes'
  )
ORDER BY p.user_id, purchase_id
"""


_INTERVAL_JOIN_OUTER_SQL = """
WITH c AS (
  SELECT user_id AS cu, event_id AS click_id, ts AS cts
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT user_id, event_id AS purchase_id, ts AS pts, value
  FROM events WHERE event_type = 'purchase'
),
j AS (
  SELECT p.user_id, p.purchase_id, c.click_id, p.pts, c.cts, p.value
  FROM p LEFT JOIN c
    ON c.cu = p.user_id
   AND c.cts <= p.pts
   AND c.cts >= p.pts - INTERVAL '30 minutes'
)
SELECT user_id, purchase_id,
  COALESCE(click_id, -1) AS click_id,
  strftime(pts, '%Y-%m-%d %H:%M:%S') AS purchase_s,
  COALESCE(strftime(cts, '%Y-%m-%d %H:%M:%S'), 'none') AS click_s,
  value
FROM j
ORDER BY user_id, purchase_id, click_id
"""


def stream_running_totals_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary per-key state (applyInPandasWithState) through the
    runtime: a per-user running (count, cents) that survives across
    micro-batches, emitted in update mode per batch via foreachBatch.
    The accumulator holds integer CENTS (the engine's csum discipline in
    state form), so the cross-batch float accumulation is order-exact.
    The final emission per user — the row with the largest n_events,
    strictly increasing whenever the user appears in a batch — must
    equal the batch rollup of `events`."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    root = fixture_dir(sf_dir, "running_state")
    chunks = _shared_chunks(sf_dir)
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_cents", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("n", T.LongType()), T.StructField("cents", T.LongType())]
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # per-ROW cents rounding before the sum: value doubles are
            # within 1e-9 of exact cents (csum precondition), far from
            # any rounding midpoint, so numpy rint == Spark HALF_UP
            # here and the long sum is exact
            cents += int((pdf["value"] * 100).round().astype("int64").sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
        )

    totals = (
        _stream(spark, chunks)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    data = os.path.join(root, "data")
    _drain(totals, root, lambda b, _: b.write.mode("append").parquet(data), "update")
    sink = spark.read.parquet(data)
    return (
        sink.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            (
                F.max_by("total_cents", "n_events") / F.lit(100.0)
            ).alias("total_value"),
        )
        .orderBy("user_id")
    )


_RUNNING_STATE_SQL = """
SELECT user_id, COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""


def stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment through the runtime
    (streaming/windows.enrich_stream_with_customer): each micro-batch
    left-joins the replayed event stream against the customer dimension
    map-side; unknown users pass through with null enrichment (the
    reference's null-tolerant R2 semantics). The sink rollup must equal
    the batch left join of `events` against `customer`."""
    root = fixture_dir(sf_dir, "enrich")
    chunks = _shared_chunks(sf_dir)
    customer = load_table(spark, sf_dir, "customer")
    enriched = enrich_stream_with_customer(
        _stream(spark, chunks), customer
    ).select("user_id", "segment", "bal_band", "value")
    data = _drain(enriched, root)
    return (
        spark.read.parquet(data)
        .groupBy("segment", "bal_band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            csum("value").alias("sum_value"),
        )
        .orderBy("segment", "bal_band")
    )


_ENRICH_SQL = """
SELECT c.c_mktsegment AS segment,
  CAST(FLOOR(c.c_acctbal / 1000) * 1000 AS BIGINT) AS bal_band,
  COUNT(*) AS n, COUNT(DISTINCT e.user_id) AS n_users,
  CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events e
LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY segment, bal_band
ORDER BY segment, bal_band
"""



def stream_sliding_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (6h every 3h) through the streaming runtime —
    same finalization closed form as the tumbling gate (emitted =
    windows with end <= max(ts) at a 0-second watermark), with each
    event expanded into its window/slide = 2 overlapping memberships
    across micro-batch boundaries."""
    events = _stream(spark, _shared_chunks(sf_dir))
    agg = sliding_counts(events, "6 hours", "3 hours", "0 seconds")
    data = _drain(agg, fixture_dir(sf_dir, "sliding"))
    return _finalized_windows(spark, data, _max_ts(spark, sf_dir))


# Sliding = each event expanded to its k=2 bucket starts
# (time_bucket(slide) - i*slide), finalized windows only.
_SLIDING_STREAM_SQL = """
WITH exp AS (
  SELECT event_type, value,
    time_bucket(INTERVAL '3 hours', ts) - (o.o * INTERVAL '3 hours') AS window_start
  FROM events, (SELECT UNNEST([0, 1]) AS o) o
)
SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
  event_type, COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM exp
WHERE window_start + INTERVAL '6 hours' <= (SELECT max(ts) FROM events)
GROUP BY window_start, event_type
ORDER BY window_start, event_type
"""


def _pick_latest(df: DataFrame) -> DataFrame:
    """Last-writer-wins per user on the total (ts, event_id) order."""
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    rn = F.row_number().over(w)
    return df.withColumn("rn", rn).filter(F.col("rn") == 1).drop("rn")


_CDC_COLS = ("user_id", "ts", "event_id", "event_type")


def _cdc_merge_batch(batch_df: DataFrame, root: str) -> None:
    """One CDC merge step: fold a micro-batch's per-user latest events
    into the ``<root>/dim`` parquet dimension (last-writer-wins on
    (ts, event_id)), committed by sinks/partitioned.heal_and_swap. Its
    heal restores a crashed swap's displaced dim BEFORE the merge reads
    it — otherwise the replayed batch would merge against nothing and
    silently drop the dimension's history. Module-level so the heal is
    unit-testable
    (tests/test_streaming.py::test_cdc_merge_self_heals_crash_window).
    """
    dim = os.path.join(root, "dim")

    def merge(staging: str) -> None:
        latest = _pick_latest(batch_df.select(*_CDC_COLS))
        if os.path.isdir(dim):
            current = batch_df.sparkSession.read.parquet(dim)
            latest = _pick_latest(current.unionByName(latest))
        latest.write.mode("overwrite").parquet(os.path.join(staging, "dim"))

    heal_and_swap(root, merge)


def _cdc_gate(spark: SparkSession, sf_dir: str, name: str, merge_batch) -> DataFrame:
    """Drain the chunk stream through `merge_batch` into ``<root>/dim``
    and present the final dimension (shared by both CDC gates)."""
    root = fixture_dir(sf_dir, name)
    _drain(
        _stream(spark, _shared_chunks(sf_dir)),
        root,
        lambda batch_df, _: merge_batch(batch_df, root),
    )
    return (
        spark.read.parquet(os.path.join(root, "dim"))
        .select(
            "user_id",
            second("ts").alias("last_ts"),
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
        )
        .orderBy("user_id")
    )


def stream_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC merge-upsert through the gate — the foreachBatch
    pattern every streaming warehouse load uses: each micro-batch's
    per-user LATEST event is merged into a parquet dimension table
    with last-writer-wins on (ts, event_id), committed by the
    rename-granular directory swap of sinks/partitioned.heal_and_swap
    (write new generation → hidden-rename old → rename new into place;
    the between-renames crash window is healed at the next merge). The
    merge re-picks latest over (current dim ∪ batch), so a replayed
    micro-batch — foreachBatch's at-least-once contract after a crash
    between sink write and checkpoint commit — is idempotent by
    construction, not by luck.

    The final dimension must equal the batch pick-latest over ALL
    events, which is exactly the oracle; re-invocation resumes the
    checkpoint with zero new files and must leave the dim identical
    (exactly-once effective)."""
    return _cdc_gate(spark, sf_dir, "cdc_merge", _cdc_merge_batch)


_CDC_N_BUCKETS = 8


def _cdc_merge_batch_partitioned(
    batch_df: DataFrame, root: str, n_buckets: int = _CDC_N_BUCKETS
) -> None:
    """Partition-pruned CDC merge step — the 100 TB shape of
    `_cdc_merge_batch`: the dimension lives hive-partitioned on
    ``part = pmod(user_id, n_buckets)`` (in production: a date or key
    prefix), and each micro-batch rewrites ONLY the partitions its
    keys touch. Untouched partitions are never read, never written,
    never swapped — per-trigger cost is O(touched partitions + batch),
    not O(dim), which is what makes streaming merge viable against a
    fact-sized target (SCALING.md "Warehouse load"). The commit is
    sinks/partitioned.heal_and_swap, compact_partitions' swap: staging
    write → dot-prefixed hidden-rename of each displaced partition →
    rename into place, with the crash window healed at the next merge.
    A user's rows all
    hash to one partition, so per-partition last-writer-wins equals
    global last-writer-wins, and the re-pick over (partition ∪ batch)
    keeps replays idempotent exactly like the bounded-dim variant.
    Module-level for unit tests
    (tests/test_streaming.py::test_partitioned_cdc_merge_*)."""
    dim = os.path.join(root, "dim")

    def merge(staging: str) -> None:
        latest = _pick_latest(batch_df.select(*_CDC_COLS)).withColumn(
            "part", F.pmod("user_id", F.lit(n_buckets)).cast("int")
        )
        # Touched-partition set: bounded by n_buckets (metadata scale,
        # like a directory listing) — NOT a data collect.
        parts = latest.select("part").distinct().collect()
        touched = {f"part={r['part']}" for r in parts}
        if not touched:
            return
        have = set(os.listdir(dim)) if os.path.isdir(dim) else set()
        read_dirs = sorted(have & touched)
        if read_dirs:
            # Partition-pruned read at the DIRECTORY level: only touched
            # partitions that already exist are even listed — a brand-new
            # bucket simply has no current side to merge against.
            current = (
                batch_df.sparkSession.read.option("basePath", dim)
                .parquet(*[os.path.join(dim, e) for e in read_dirs])
                .select(*_CDC_COLS, "part")
            )
            latest = _pick_latest(current.unionByName(latest))
        (
            latest.repartition(F.col("part"))
            .write.mode("overwrite")
            .partitionBy("part")
            .parquet(staging)
        )

    heal_and_swap(dim, merge)


def stream_cdc_merge_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The partition-pruned streaming CDC merge through the gate — the
    scale path SCALING.md's warehouse-load entry prescribes for large
    merge targets: same checkpointed availableNow replay and
    last-writer-wins semantics as `stream_cdc_merge`, but the
    dimension is hive-partitioned on a key bucket and each micro-batch
    merges ONLY its touched partitions via per-partition staging-swap
    (`_cdc_merge_batch_partitioned`). The oracle is the same global
    pick-latest over all events: partition pruning must change
    nothing about merge semantics, only its per-trigger cost."""
    return _cdc_gate(
        spark, sf_dir, "cdc_merge_partitioned", _cdc_merge_batch_partitioned
    )


_CDC_MERGE_SQL = """
WITH ranked AS (
  SELECT user_id, ts, event_id, event_type,
    ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
  event_id AS last_event_id, event_type AS last_event_type
FROM ranked WHERE rn = 1
ORDER BY user_id
"""


def stream_snapshot_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming micro-batches landing in the SNAPSHOT-MANIFEST table
    (`sinks/snapshot.py`) with transactional idempotence — the
    Delta-style `txn` map: each `foreachBatch` commit carries its
    batch_id as a transaction id recorded in the manifest, so a
    REPLAYED batch (foreachBatch's at-least-once contract after a
    crash between sink write and checkpoint commit) is recognized and
    skipped instead of appended twice. Snapshot isolation on top:
    every micro-batch is an atomic manifest publish, so a concurrent
    reader sees whole batches only, never a half-written one.

    The gate streams the chunk fixture into the table (one append
    snapshot per micro-batch), then REPLAYS a batch manually with an
    already-applied txn id and HARD-CHECKS that no new version and no
    new files appeared (raises otherwise). Output = the final
    snapshot's per-type rollup; the oracle recomputes it from the base
    table, so a duplicated or lost batch cannot hash-match. A
    re-invocation resumes the checkpoint (zero new batches) and must
    return the identical table.
    """
    from etl_gcp_function_tmabrasil_spark.queries._util import dsum
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        _load_manifest,
        _manifests,
        commit_snapshot,
        read_snapshot,
    )

    root = fixture_dir(sf_dir, "snapshot_stream")
    chunks = _shared_chunks(sf_dir)
    table = os.path.join(root, "table")

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        commit_snapshot(
            batch_df.select("event_id", "event_type", "value"),
            table,
            txn_id=f"gate-{batch_id}",
        )

    _drain(_stream(spark, chunks), root, commit)
    versions = _manifests(table)
    manifest = _load_manifest(table, versions[-1])
    txn = manifest["txn"]
    if len(txn) != _N_CHUNKS:
        raise RuntimeError(f"expected {_N_CHUNKS} batch txns, got {txn}")
    # at-least-once replay: re-deliver a chunk under an already-applied
    # txn id — the sink must recognize it and change NOTHING
    replay_id = max(txn, key=lambda k: txn[k])
    first_chunk = sorted(
        f for f in os.listdir(chunks) if f.endswith(".parquet")
    )[0]
    replay_df = (
        spark.read.schema(EVENTS_SCHEMA)
        .parquet(os.path.join(chunks, first_chunk))
        .select("event_id", "event_type", "value")
    )
    v = commit_snapshot(replay_df, table, txn_id=replay_id)
    if v != txn[replay_id] or _manifests(table)[-1] != versions[-1]:
        raise RuntimeError("replayed micro-batch was not idempotent")
    if _load_manifest(table, versions[-1])["files"] != manifest["files"]:
        raise RuntimeError("replay changed the snapshot's file list")
    return (
        read_snapshot(spark, table)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value", 4).alias("sum_value"),
        )
        .orderBy("event_type")
    )


_SNAPSHOT_STREAM_SQL = """
SELECT event_type, COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


QUERIES = {
    "stream_snapshot_exactly_once": stream_snapshot_exactly_once,
    "stream_tumbling_watermark": stream_tumbling_watermark,
    "stream_dedup_redelivery": stream_dedup_redelivery,
    "stream_late_data_drop": stream_late_data_drop,
    "stream_session_watermark": stream_session_watermark,
    "stream_session_dynamic_gap": stream_session_dynamic_gap,
    "stream_interval_join": stream_interval_join,
    "stream_interval_join_outer": stream_interval_join_outer,
    "stream_interval_join_semi": stream_interval_join_semi,
    "stream_interval_join_full": stream_interval_join_full,
    "stream_chained_window_distinct": stream_chained_window_distinct,
    "stream_running_totals_state": stream_running_totals_state,
    "stream_static_enrichment": stream_static_enrichment,
    "stream_sliding_watermark": stream_sliding_watermark,
    "stream_cdc_merge": stream_cdc_merge,
    "stream_cdc_merge_partitioned": stream_cdc_merge_partitioned,
}

ORACLE = {
    "stream_snapshot_exactly_once": _SNAPSHOT_STREAM_SQL,
    "stream_tumbling_watermark": _TUMBLING_STREAM_SQL,
    "stream_dedup_redelivery": _DEDUP_STREAM_SQL,
    "stream_late_data_drop": _LATE_DROP_SQL,
    "stream_session_watermark": _SESSION_STREAM_SQL,
    "stream_session_dynamic_gap": _SESSION_DYNAMIC_SQL,
    "stream_interval_join": _INTERVAL_JOIN_SQL,
    "stream_interval_join_outer": _INTERVAL_JOIN_OUTER_SQL,
    "stream_interval_join_semi": _INTERVAL_JOIN_SEMI_SQL,
    "stream_interval_join_full": _INTERVAL_JOIN_FULL_SQL,
    "stream_chained_window_distinct": _CHAINED_WINDOW_SQL,
    "stream_running_totals_state": _RUNNING_STATE_SQL,
    "stream_static_enrichment": _ENRICH_SQL,
    "stream_sliding_watermark": _SLIDING_STREAM_SQL,
    "stream_cdc_merge": _CDC_MERGE_SQL,
    "stream_cdc_merge_partitioned": _CDC_MERGE_SQL,
}


SESSION_TIMEOUT_GAP_MIN = 30  #: session gap (minutes)


def stream_state_timeout_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom sessionization through `applyInPandasWithState` with
    EVENT-TIME TIMEOUTS — the one GroupStateTimeout mode the running-
    totals gate (NoTimeout) leaves unexercised, and the canonical use
    for it: the state holds each user's OPEN session; a later event
    past the gap closes it INLINE, and the watermark closes it via
    `state.hasTimedOut` when no such event ever arrives — exactly how
    a hand-rolled sessionizer must work when `session_window` can't
    express the per-session logic (here: integer-cents sums, the csum
    discipline in state form).

    Determinism: emitted sessions = sessions whose end + gap the
    final watermark provably passed. Inline closes need a successor
    event (end + gap < successor ts <= max ts) and timeout closes need
    timeout_ts <= final watermark, so BOTH are complete for any
    session with end + gap safely below max ts; the gate and oracle
    filter to a 1-hour margin below max ts so no <=/<-boundary or
    batch-lag subtlety can flip a row (the stream_late_data_drop
    margin discipline). setTimeoutTimestamp must exceed the current
    watermark — clamped with watermark + 1 ms, which cannot fire
    before the next real boundary.

    Scale: state is one fixed-width open session per user; rows
    stream through user_id-partitioned state tasks once.
    """
    root = fixture_dir(sf_dir, "state_timeout_sessions")
    chunks = _shared_chunks(sf_dir)
    sessions = timeout_session_stream(spark, chunks)
    data = _drain(sessions, root)
    return finalized_timeout_sessions(spark, data, _max_ts(spark, sf_dir))


def timeout_session_stream(spark: SparkSession, chunks: str) -> DataFrame:
    """The EventTimeTimeout sessionizer as a streaming DataFrame over a
    chunk directory — factored out so the restart stress test can run
    the SAME state logic across checkpoint cuts."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_ms = SESSION_TIMEOUT_GAP_MIN * 60 * 1000
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("start_ms", T.LongType()),
            T.StructField("end_ms", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("sum_cents", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("start_ms", T.LongType()),
            T.StructField("end_ms", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("cents", T.LongType()),
        ]
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        uid = key[0]
        closed: list[tuple] = []
        if state.hasTimedOut:
            s, e, n, c = state.get
            closed.append((uid, s, e, n, c))
            state.remove()
        else:
            cur = list(state.get) if state.exists else None
            rows = pd.concat(list(pdfs), ignore_index=True)
            rows = rows.sort_values(["ts", "event_id"])
            for ts, val in zip(rows["ts"], rows["value"]):
                ms = int(ts.value // 1_000_000)  # ns -> ms epoch
                cents = int(round(val * 100))
                if cur is None:
                    cur = [ms, ms, 1, cents]
                elif ms > cur[1] + gap_ms:
                    closed.append((uid, cur[0], cur[1], cur[2], cur[3]))
                    cur = [ms, ms, 1, cents]
                else:
                    cur[1] = max(cur[1], ms)
                    cur[2] += 1
                    cur[3] += cents
            state.update(tuple(cur))
            state.setTimeoutTimestamp(
                max(cur[1] + gap_ms, state.getCurrentWatermarkMs() + 1)
            )
        if closed:
            yield pd.DataFrame(
                closed,
                columns=["user_id", "start_ms", "end_ms", "n_events", "sum_cents"],
            )

    return (
        _stream(spark, chunks)
        .withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def finalized_timeout_sessions(
    spark: SparkSession, data: str, max_ts
) -> DataFrame:
    """Margin-filtered presentation of the sessionizer's sink (shared
    by the gate and the restart stress test)."""
    gap_ms = SESSION_TIMEOUT_GAP_MIN * 60 * 1000
    margin_ms = int(max_ts.timestamp() * 1000) - 3_600_000  # 1h margin
    return (
        spark.read.parquet(data)
        .filter(F.col("end_ms") + F.lit(gap_ms) <= F.lit(margin_ms))
        .select(
            "user_id",
            F.date_format(
                F.timestamp_millis(F.col("start_ms")),
                "yyyy-MM-dd HH:mm:ss",
            ).alias("session_start"),
            "n_events",
            (F.col("sum_cents") / F.lit(100.0)).alias("sum_value"),
        )
        .orderBy("user_id", "session_start")
    )


_STATE_TIMEOUT_SQL = f"""
WITH marked AS (
  SELECT user_id, ts, value, event_id,
    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id)
              > INTERVAL '{SESSION_TIMEOUT_GAP_MIN} minutes'
         OR LAG(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) IS NULL
         THEN 1 ELSE 0 END AS new_session
  FROM events
),
sess AS (
  SELECT user_id, ts, value,
    SUM(new_session) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
),
rolled AS (
  SELECT user_id, sid, MIN(ts) AS session_start_ts, MAX(ts) AS session_end_ts,
    COUNT(*) AS n_events,
    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
      AS sum_value
  FROM sess GROUP BY user_id, sid
)
SELECT user_id,
  strftime(session_start_ts, '%Y-%m-%d %H:%M:%S') AS session_start,
  n_events, sum_value
FROM rolled
WHERE session_end_ts + INTERVAL '{SESSION_TIMEOUT_GAP_MIN} minutes'
      <= (SELECT MAX(ts) FROM events) - INTERVAL '1 hour'
ORDER BY user_id, session_start
"""

QUERIES["stream_state_timeout_sessions"] = stream_state_timeout_sessions
ORACLE["stream_state_timeout_sessions"] = _STATE_TIMEOUT_SQL


def stream_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING event-sequence pattern matching — the CEP shape the
    batch `seq_pattern_match` operator documents as its streaming
    analogue: per-user arbitrary state (`applyInPandasWithState`)
    accumulates the event-symbol string across micro-batches, and
    each batch re-evaluates the non-overlapping regex count on the
    key's full sequence, emitting the running (seq_len, n_matches) in
    update mode. Flink CEP / MATCH_RECOGNIZE's streaming semantics on
    a surface Spark lacks natively.

    Ordering argument: the chunk fixture is GLOBALLY (ts, event_id)-
    sorted and sliced contiguously, the file source admits chunks
    oldest-first one per batch, and each batch's rows are re-sorted on
    (ts, event_id) before appending — so every user's state string is
    exactly its batch-side total-order sequence at every point in the
    replay. State is one char per event per user (the batch
    operator's own bound).

    The final emission per user (largest seq_len — strictly growing
    whenever the user appears in a batch) must equal the BATCH
    operator's row, oracle-checked against the same SQL.
    """
    import re as _re
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from etl_gcp_function_tmabrasil_spark.queries.analytics import (
        SEQ_PATTERN,
    )

    root = fixture_dir(sf_dir, "pattern_state")
    chunks = _shared_chunks(sf_dir)
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("seq_len", T.IntegerType()),
            T.StructField("n_matches", T.IntegerType()),
        ]
    )
    state_schema = T.StructType([T.StructField("s", T.StringType())])
    pat = _re.compile(SEQ_PATTERN)

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (s,) = state.get if state.exists else ("",)
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts", "event_id"])
        s += "".join(batch["event_type"].str[0])
        state.update((s,))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "seq_len": [len(s)],
                "n_matches": [len(pat.findall(s))],
            }
        )

    matched = (
        _stream(spark, chunks)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    data = os.path.join(root, "data")
    _drain(matched, root, lambda b, _: b.write.mode("append").parquet(data), "update")
    sink = spark.read.parquet(data)
    return (
        sink.groupBy("user_id")
        .agg(
            F.max("seq_len").alias("seq_len"),
            F.max_by("n_matches", "seq_len").alias("n_matches"),
        )
        .filter(F.col("n_matches") >= 1)
        .orderBy("user_id")
    )


QUERIES["stream_pattern_match"] = stream_pattern_match
# the streaming run must converge to the BATCH operator's exact output
from etl_gcp_function_tmabrasil_spark.queries.analytics import (  # noqa: E402
    _SEQ_PATTERN_SQL as _STREAM_PATTERN_SQL,
)

ORACLE["stream_pattern_match"] = _STREAM_PATTERN_SQL


# --- Complete output mode: running leaderboard (round 11) -------------------


def stream_complete_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLETE output mode through the real streaming runtime — the
    one output mode the gate surface had not pinned (append: every
    windowed gate; update-style: the foreachBatch CDC merges). A
    running per-type leaderboard re-emits the FULL aggregate each
    micro-batch, overwriting a parquet snapshot through foreachBatch;
    after the availableNow run the final emission must equal the batch
    aggregation of all events — the complete-mode contract (state
    holds every group; no watermark required; emitted rows are
    replaced, not appended).

    Restart safety: checkpoint and snapshot are built in one temp dir
    that `ensure_fixture` renames into place only after the run, and a
    re-invocation in the same process reads the published snapshot
    instead of no-op-restarting on a finished checkpoint (availableNow
    admits zero files there, and complete mode would then re-emit
    nothing). A crashed attempt's temp dir — checkpoint included — is
    deleted by the retry's rebuild, so the retry replays from scratch.

    Scale: complete mode keeps O(groups) state (5 event types) and
    re-emits it per batch — the right tool ONLY for bounded-key
    aggregations; unbounded keys belong to append/update modes (the
    docstring is the contract a user needs at 100 TB).
    """
    out = fixture_dir(sf_dir, "complete")

    def build(tmp: str) -> None:
        agg = (
            _stream(spark, _shared_chunks(sf_dir))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"), csum("value").alias("sum_value"))
        )
        # every batch re-emits the full table: the last overwrite is final
        data = os.path.join(tmp, "data")
        _drain(
            agg, tmp, lambda b, _: b.write.mode("overwrite").parquet(data), "complete"
        )

    ensure_fixture(out, build)
    return (
        spark.read.parquet(os.path.join(out, "data"))
        .select("event_type", "n", "sum_value")
        .orderBy(F.desc("n"), F.asc("event_type"))
    )


_COMPLETE_SQL = """
SELECT event_type, COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type
ORDER BY n DESC, event_type ASC
"""

QUERIES["stream_complete_leaderboard"] = stream_complete_leaderboard
ORACLE["stream_complete_leaderboard"] = _COMPLETE_SQL


# --- Update output mode: changed-groups-only emissions (round 11) -----------


def stream_update_mode_emissions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE output mode through the real streaming runtime —
    completing the output-mode triad (append: every windowed gate;
    complete: the r11 leaderboard): a per-day running count emits, per
    micro-batch, ONLY the groups that batch changed. The emissions are
    captured with their batch ids through foreachBatch; the final
    state (each day's LAST emission) must equal the batch aggregation
    — the update-mode contract (re-emission replaces, never appends).

    Checkpoint, emissions and final-state snapshot are built in one temp
    dir published by `ensure_fixture`: a crashed attempt's emissions
    are deleted with its temp dir by the retry's rebuild, never appended
    to by the retry's full replay (duplicate (day, bid) rows would
    inflate n_emitted past the cap below, and the max-bid final pick
    would read across attempts whose bids each restart at 0).

    Hard-check at build: update mode must actually be SELECTIVE — the
    chunk fixture is time-ordered, so each micro-batch touches only
    the day(s) at the replay front, and total emitted rows must stay
    far under batches x days (the complete-mode emission volume). A
    regression that silently re-emitted full state every batch (the
    complete-mode behavior) fails this cap long before the oracle
    could notice.

    Scale: update mode keeps O(groups) state like complete, but its
    per-batch OUTPUT follows the CHANGED groups — the right mode when
    state is broad but churn is narrow (exactly the running-rollup
    shape at 100 TB; a downstream upsert sink consumes the deltas).
    """
    from pyspark.sql import Window as W

    out = fixture_dir(sf_dir, "update_mode")

    def build(tmp: str) -> None:
        emissions = os.path.join(tmp, "emissions")
        agg = (
            _stream(spark, _shared_chunks(sf_dir))
            .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
            .agg(F.count(F.lit(1)).alias("n"), csum("value").alias("sum_value"))
        )

        def emit(batch_df, bid: int) -> None:
            (
                batch_df.withColumn("bid", F.lit(int(bid)))
                .write.mode("append")
                .parquet(emissions)
            )

        _drain(agg, tmp, emit, "update")
        em = spark.read.parquet(emissions)
        n_emitted = em.count()
        n_days = em.select("day").distinct().count()
        # batch count from the emissions DATA, not a driver-side
        # counter (r11 ADVICE) — the data is what the cap reasons about
        n_batches = em.select("bid").distinct().count()
        if n_batches > 2 and n_emitted >= n_batches * n_days / 2:
            raise RuntimeError(
                f"update mode emitted {n_emitted} rows over "
                f"{n_batches} batches x {n_days} days — re-emitting "
                "unchanged groups (complete-mode volume)"
            )
        w = W.partitionBy("day").orderBy(F.desc("bid"))
        (
            em.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("day", "n", "sum_value")
            .write.parquet(os.path.join(tmp, "data"))
        )

    ensure_fixture(out, build)
    return spark.read.parquet(os.path.join(out, "data")).orderBy("day")


_UPDATE_MODE_SQL = """
SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events GROUP BY day ORDER BY day
"""

QUERIES["stream_update_mode_emissions"] = stream_update_mode_emissions
ORACLE["stream_update_mode_emissions"] = _UPDATE_MODE_SQL


# --- Stream-static SCD2 as-of enrichment (round 13) ---------------------------

_ASOF_OPEN_END = "9999-12-31 00:00:00"


def stream_scd2_asof_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream enrichment against a TYPE-2 dimension AS OF event time —
    the late-arriving-fact / slowly-changing-dimension join every
    warehouse loader needs: each replayed event picks the dimension
    VERSION that was valid at its timestamp (orders as the SCD2
    source: per customer, each order's priority is valid from its
    order date until the next), not the current version a plain
    stream-static equi-join would give. Events from users with no
    prior order pass through with null enrichment (the reference's
    null-tolerant R2 semantics, main.py:6-9).

    Mechanics: the SCD2 history is derived in batch (one user-keyed
    LEAD window — the scd2_user_history shape) and joined
    stream-static per micro-batch on user EQUALITY plus the interval
    range predicate; intervals partition time, so the left join is
    row-preserving by construction. Through the real runtime:
    checkpointed availableNow replay over the shared chunk fixture,
    re-invocation exercises the restart path. The sink rollup must
    equal the batch as-of join of `events` against the same history.

    Scale: the equi key (user) leads the join, so the range predicate
    only filters within a user's version chain — never a range join
    across users; the dimension build is one shuffle by customer.
    """
    root = fixture_dir(sf_dir, "scd2_asof")
    chunks = _shared_chunks(sf_dir)
    from pyspark.sql import Window as W

    odr = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    nxt = F.lead("o_orderdate").over(w)
    dim = odr.select(
        F.col("o_custkey").alias("duser"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("vfrom"),
        F.coalesce(nxt, F.lit(_ASOF_OPEN_END).cast("timestamp")).alias("vto"),
    )
    ev = _stream(spark, chunks)
    enriched = ev.join(
        dim,
        (ev["user_id"] == dim["duser"])
        & (ev["ts"] >= dim["vfrom"])
        & (ev["ts"] < dim["vto"]),
        "left",
    ).select("user_id", "value", F.col("priority"))
    data = _drain(enriched, root)
    return (
        spark.read.parquet(data)
        .groupBy(F.coalesce("priority", F.lit("none")).alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            csum("value").alias("sum_value"),
        )
        .orderBy("priority")
    )


_SCD2_ASOF_SQL = f"""
WITH dim AS (
  SELECT o_custkey AS duser, o_orderpriority AS priority,
    o_orderdate AS vfrom,
    COALESCE(LEAD(o_orderdate) OVER (
      PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC),
      TIMESTAMP '{_ASOF_OPEN_END}') AS vto
  FROM orders
)
SELECT COALESCE(d.priority, 'none') AS priority,
  COUNT(*) AS n, COUNT(DISTINCT e.user_id) AS n_users,
  CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events e
LEFT JOIN dim d
  ON e.user_id = d.duser AND e.ts >= d.vfrom AND e.ts < d.vto
GROUP BY 1 ORDER BY 1
"""

QUERIES["stream_scd2_asof_enrichment"] = stream_scd2_asof_enrichment
ORACLE["stream_scd2_asof_enrichment"] = _SCD2_ASOF_SQL


def stream_merge_snapshot_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming keyed upsert into the snapshot table via the
    copy-on-write MERGE verb (round 14) — the canonical Delta
    "streaming MERGE" pattern (foreachBatch + MERGE INTO): each
    micro-batch maintains a latest-event-per-user profile table by
    (a) reducing the batch to one candidate row per user (argmax on
    the total (ts, event_id) order), (b) reading the CURRENT stored
    row for just those keys, (c) keeping the winner, and (d)
    committing one ``merge_snapshot`` with the batch id as txn —
    read-modify-write inside the batch, so the final table equals the
    GLOBAL per-user argmax regardless of chunk delivery order, and
    crash-replay of a committed batch is a manifest no-op (the same
    txn guard the exactly-once gate proves; here it is hard-checked
    by re-merging the last batch under its applied txn id).

    Scale: each merge rewrites only the files holding that batch's
    matched users (the merge verb's semi-join candidate detection);
    the per-batch read-back is key-pruned by the same join. State
    lives in the TABLE, not the stream — the pattern a 100 TB profile
    store needs, where engine state cannot hold the key space.
    """
    from etl_gcp_function_tmabrasil_spark.queries._util import dsum
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        _load_manifest,
        _manifests,
        commit_snapshot,
        merge_snapshot,
        read_snapshot,
    )

    root = fixture_dir(sf_dir, "merge_upsert_stream")
    chunks = _shared_chunks(sf_dir)
    table = os.path.join(root, "table")
    cols = ["user_id", "event_id", "ts", "event_type", "value"]

    def latest_per_user(df: DataFrame) -> DataFrame:
        # deterministic per-user argmax on (ts, event_id): pack into a
        # sortable struct, one grouped MAX, unpack
        packed = F.struct(
            F.col("ts"), F.col("event_id"), F.col("event_type"), F.col("value")
        )
        win = df.groupBy("user_id").agg(F.max(packed).alias("w"))
        return win.select(
            "user_id",
            F.col("w.event_id").alias("event_id"),
            F.col("w.ts").alias("ts"),
            F.col("w.event_type").alias("event_type"),
            F.col("w.value").alias("value"),
        )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        cand = latest_per_user(batch_df.select(*cols))
        if not _manifests(table):
            commit_snapshot(
                cand, table, txn_id=f"seed-{batch_id}"
            )
            return
        cur = read_snapshot(spark, table).join(
            F.broadcast(cand.select("user_id")), "user_id", "semi"
        )
        winners = latest_per_user(cand.unionByName(cur))
        merge_snapshot(
            spark, table, winners, "user_id", txn_id=f"b-{batch_id}"
        )

    _drain(_stream(spark, chunks), root, upsert)
    versions = _manifests(table)
    man = _load_manifest(table, versions[-1])
    txn = dict(man["txn"])
    if not txn:
        raise RuntimeError("no merge txns recorded")
    # crash-replay: re-merge the LAST batch under its applied txn id —
    # the manifest must not move
    last_txn = max(txn, key=lambda k: txn[k])
    replay_src = latest_per_user(
        read_snapshot(spark, table).limit(50)
    )
    info = merge_snapshot(
        spark, table, replay_src, "user_id", txn_id=last_txn
    )
    if info["version"] != txn[last_txn] or _manifests(table) != versions:
        raise RuntimeError("replayed merge batch was not idempotent")
    # the profile table must hold EXACTLY one row per user
    dup = (
        read_snapshot(spark, table)
        .groupBy("user_id")
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .count()
    )
    if dup:
        raise RuntimeError("duplicate user rows after streaming merges")
    return (
        read_snapshot(spark, table)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            dsum("value", 4).alias("sum_value"),
        )
        .orderBy("event_type")
    )


_MERGE_UPSERT_SQL = """
WITH latest AS (
  SELECT user_id, event_type, value
  FROM (
    SELECT user_id, event_type, value,
      ROW_NUMBER() OVER (PARTITION BY user_id
                         ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
  ) t WHERE rn = 1
)
SELECT event_type, COUNT(*) AS n_users,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM latest GROUP BY event_type ORDER BY event_type
"""

QUERIES["stream_merge_snapshot_upsert"] = stream_merge_snapshot_upsert
ORACLE["stream_merge_snapshot_upsert"] = _MERGE_UPSERT_SQL

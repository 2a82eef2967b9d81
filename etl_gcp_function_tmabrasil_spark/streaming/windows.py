"""Streaming semantics over the `events` stream (SURVEY.md §2.2
"Streaming"): watermarks, tumbling/sliding/session windows, stateful
dedup, and arbitrary-stateful operators via applyInPandasWithState.

Every transform takes a (streaming or batch) DataFrame with the
EVENTS_SCHEMA shape and works in both modes. The streaming gates in
queries/streaming_gate.py and the batch twins in queries/events_json.py
call the window aggregates defined here, the redelivery gate calls
the dedup, and the running-totals gate calls `user_running_totals`; on
a batch frame the analyzer drops `withWatermark`, so a batch twin's
plan is the plain windowed aggregate.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T


def _window_agg(
    events: DataFrame, watermark: str, w: Column, key: str, names: tuple
) -> DataFrame:
    """The windowed aggregate every window type shares: event count and
    the exact cents sum (csum, so the cross-micro-batch accumulation is
    order-exact; valid for values with at most 2 decimals, as every
    events.value is) per (window, key), with the window's start and
    end."""
    # imported here: the queries package imports this module at init
    from etl_gcp_function_tmabrasil_spark.queries._util import csum

    start, end, n = names
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w.alias("w"), key)
        .agg(F.count(F.lit(1)).alias(n), csum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias(start),
            F.col("w.end").alias(end),
            key,
            n,
            "sum_value",
        )
    )


def tumbling_counts(
    events: DataFrame, window: str = "10 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Tumbling event-time window counts with a watermark bounding state:
    windows older than max(ts) - watermark are finalized and emitted
    (append mode) and their state dropped — the knob that keeps state
    bounded on an unbounded stream."""
    return _window_agg(
        events,
        watermark,
        F.window("ts", window),
        "event_type",
        ("window_start", "window_end", "n"),
    )


def sliding_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Sliding windows: each event lands in window/slide overlapping
    windows; same watermark-bounded state story as tumbling."""
    return _window_agg(
        events,
        watermark,
        F.window("ts", window, slide),
        "event_type",
        ("window_start", "window_end", "n"),
    )


def session_counts(
    events: DataFrame, gap: str | Column = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Per-user session windows (dynamic length, gap-based close). A
    Column `gap` is evaluated per event: each event keeps its session
    open for its own gap, and the session ends at the latest ts + gap."""
    return _window_agg(
        events,
        watermark,
        F.session_window("ts", gap),
        "user_id",
        ("session_start", "session_end", "n_events"),
    )


def stateful_dedup(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Exactly-once-per-event_id within the watermark horizon: the dedup
    the reference needs under Eventarc's at-least-once redelivery
    (SURVEY.md §3.1 failure semantics). State holds one key per seen
    event_id and expires with the watermark."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


_RUNNING_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)
_STATE_SCHEMA = T.StructType(
    [T.StructField("n", T.LongType()), T.StructField("cents", T.LongType())]
)


def user_running_totals(events: DataFrame) -> DataFrame:
    """Arbitrary stateful aggregation via applyInPandasWithState: a
    per-user running (count, sum) that survives across micro-batches —
    the custom-stateful-operator escape hatch for semantics the built-in
    windows can't express. The state holds integer CENTS (the engine's
    csum discipline in state form: valid for values with at most 2
    decimals), so the cross-batch accumulation is order-exact;
    ``total_value`` is the cents over 100, rounded once."""

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
            {"user_id": [key[0]], "n_events": [n], "total_value": [cents / 100]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_RUNNING_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def click_purchase_attribution(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to every
    click by the same user within the preceding `horizon` — the
    last-touch-attribution primitive (SURVEY.md §2.2 "Streaming").

    Both inputs carry watermarks and the join condition bounds
    click_ts to [purchase_ts - horizon, purchase_ts], so Spark can
    expire buffered rows once the other stream's watermark passes the
    interval: state is O(events within horizon), not O(stream history).
    At cluster scale this is the canonical two-stream equi-join on
    user_id with time-range pruning; the same function body works in
    batch mode (no watermark state, plain interval join), which is how
    the test cross-checks streaming output against the batch answer.

    `how="leftOuter"` additionally emits every UNATTRIBUTED purchase
    with null click columns once the join state can prove no match is
    coming — the organic-conversion side of the attribution report.
    Outer rows surface on STATE EVICTION, not on arrival: Spark's
    state-value watermark for the purchase side subtracts the join
    interval from the global watermark (conservative retention), so a
    purchase emits its null row once the watermark passes
    purchase_ts + horizon — i.e. an event-time lag of watermark delay
    + interval behind the stream front (measured; pinned by the
    stream_interval_join_outer oracle, which reproduces the closed
    form max_ts - 2*horizon for the final availableNow flush).
    """
    c = clicks.withWatermark("ts", horizon).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.withWatermark("ts", horizon).select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        "value",
    )
    cond = (
        (F.col("c_user") == F.col("user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon}"))
    )
    j = p.join(c, cond, how)
    if how == "leftSemi":  # semi output carries only the purchase side
        return j.select("user_id", "purchase_id", "purchase_ts", "value")
    if how == "fullOuter":  # either side's key may be null — coalesce
        return j.select(
            F.coalesce("user_id", "c_user").alias("user_id"),
            "purchase_id",
            "purchase_ts",
            "click_id",
            "click_ts",
            "value",
        )
    return j.select(
        "user_id", "purchase_id", "purchase_ts", "click_id", "click_ts", "value"
    )


def enrich_stream_with_customer(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static enrichment join: annotate the event stream with the
    customer dimension (segment, balance band) — the broadcast-dimension
    pattern inside a streaming query.

    No watermark is needed: the static side is a batch DataFrame that
    Spark re-plans per micro-batch (picking up dimension updates between
    batches), and broadcasting it keeps the stream side shuffle-free —
    each micro-batch is a map-side hash join, the same plan at any
    corpus size as long as the dimension stays broadcast-sized. Left
    join: events from unknown users pass through with null enrichment
    (the reference's null-tolerant R2 semantics)."""
    dim = customer.select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
        (F.floor(F.col("c_acctbal") / 1000) * 1000).cast("long").alias("bal_band"),
    )
    return events.join(F.broadcast(dim), "user_id", "left")

"""Semi-structured + time-series surface over `events` (SURVEY.md §2.2
"Array fns", "Map fns", "JSON fns", plus the streaming window
aggregates of streaming/windows.py run on the batch table —
tumbling/sliding/session aggregation).

The `events` table mirrors the reference's CloudEvent payload model: a
semi-structured `props` JSON column accessed defensively
(``/root/reference/main.py:6-9``), plus event-time for windowing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from etl_gcp_function_tmabrasil_spark.catalog import load_table
from etl_gcp_function_tmabrasil_spark.queries._util import csum, day, dsum, second
from etl_gcp_function_tmabrasil_spark.streaming.windows import (
    session_counts,
    sliding_counts,
    tumbling_counts,
)


def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json + get_json_object over the semi-structured props column —
    the columnar twin of the reference's `data.get(...)` projection
    (``main.py:7-9``), including the null-default (`or {}`, ``main.py:6``)."""
    ev = load_table(spark, sf_dir, "events")
    schema = T.StructType([T.StructField("k", T.LongType(), True)])
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_path"),
        F.from_json("props", schema).getField("k").alias("k_struct"),
        F.coalesce(F.from_json("props", schema).getField("k"), F.lit(-1)).alias(
            "k_defaulted"
        ),
    )


#: Guarded JSON field extraction: DuckDB's json_extract_string ERRORS
#: on malformed JSON where Spark's get_json_object/from_json degrade to
#: NULL — the json_valid guard gives every oracle the same
#: NULL-on-malformed semantics as the engine (and the reference's
#: defensive `data.get(...) or {}`, main.py:6).
_SQL_K = (
    "(CASE WHEN json_valid(props)"
    " THEN CAST(json_extract_string(props, '$.k') AS BIGINT) END)"
)

_JSON_SQL = f"""
SELECT event_id,
  {_SQL_K} AS k_path,
  {_SQL_K} AS k_struct,
  COALESCE({_SQL_K}, -1) AS k_defaulted
FROM events ORDER BY event_id
"""


def json_tuple_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """json_tuple extraction + create_map + explode_outer null-preservation.

    `json_tuple` is the multi-field JSON extractor (one pass per row,
    unlike N `get_json_object` calls); `create_map` builds a literal-keyed
    map; `explode_outer` keeps rows whose collection is empty — the
    null-preserving lateral view, matching the reference's keep-the-
    rejected-row-visible semantics (``main.py:13``) at the row level.
    Error events get an empty map and must survive as a NULL tag row.
    """
    ev = load_table(spark, sf_dir, "events")
    # json_tuple is a generator expression: it must be projected bare
    # (not nested inside cast/when), then typed in a follow-up select.
    tagged = ev.select(
        "event_id",
        "event_type",
        F.json_tuple("props", "k").alias("k_str"),
    ).withColumn("k", F.col("k_str").cast("long")).select(
        "event_id",
        F.when(
            F.col("event_type") != "error",
            F.create_map(
                F.lit("type"), F.col("event_type"),
                F.lit("parity"), F.when(F.col("k") % 2 == 0, F.lit("even")).otherwise(F.lit("odd")),
            ),
        ).otherwise(F.create_map().cast("map<string,string>")).alias("tags"),
    )
    return tagged.select(
        "event_id", F.explode_outer("tags").alias("tag_key", "tag_value")
    )


_JSON_TUPLE_SQL = f"""
WITH tagged AS (
  SELECT event_id, event_type, {_SQL_K} AS k
  FROM events
), pairs AS (
  SELECT event_id, 'type' AS tag_key, event_type AS tag_value
  FROM tagged WHERE event_type <> 'error'
  UNION ALL
  SELECT event_id, 'parity', CASE WHEN k % 2 = 0 THEN 'even' ELSE 'odd' END
  FROM tagged WHERE event_type <> 'error'
  UNION ALL
  -- NULL event_type routes to the empty-map branch in the Spark
  -- query (when() sends NULL to otherwise), so it must emit the same
  -- single (NULL, NULL) row the 'error' branch does
  SELECT event_id, NULL, NULL FROM tagged
  WHERE event_type = 'error' OR event_type IS NULL
)
SELECT * FROM pairs ORDER BY event_id, tag_key
"""


def json_schema_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """schema_of_json-driven parse: infer the props schema from a
    representative payload (Spark requires a foldable sample — at scale
    you'd sample one row per source at plan-build time), then parse the
    whole column with from_json using the inferred DDL. Completes the
    SURVEY §2.2 JSON-function row (from_json / get_json_object /
    json_tuple / schema_of_json). Constant-folded schema string; one
    shuffle on the bounded event_type key."""
    ev = load_table(spark, sf_dir, "events")
    inferred = F.schema_of_json(F.lit('{"k": 87}'))
    parsed = ev.select(
        "event_type",
        inferred.alias("props_schema"),
        F.from_json("props", "k BIGINT").getField("k").alias("k"),
    )
    return (
        parsed.groupBy("event_type", "props_schema")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


_JSON_SCHEMA_SQL = f"""
SELECT event_type, 'STRUCT<k: BIGINT>' AS props_schema,
  COUNT(*) AS n_events,
  CAST(SUM(k) AS BIGINT) AS sum_k,
  MIN(k) AS min_k, MAX(k) AS max_k
FROM (SELECT event_type, {_SQL_K} AS k FROM events) t
GROUP BY event_type ORDER BY event_type
"""


def json_variant_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path over the semi-structured props column:
    `try_parse_json` parses each payload ONCE into the binary variant
    encoding, then `try_variant_get` extracts typed fields without
    re-tokenizing the JSON string per access — the scale answer to
    N × `get_json_object` (each of which re-parses the full string).
    Malformed payloads degrade to NULL (try_ semantics), matching the
    reference's defensive `data.get(...) or {}` (``main.py:6``).

    At 100 TB variant shreds the parse cost: one tokenize per row at
    ingest, O(1) typed field reads after — the same rollup here costs
    one codegen pass with no string re-scans."""
    ev = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.try_parse_json("props"), "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("k").alias("n_valid_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


_JSON_VARIANT_SQL = f"""
SELECT event_type, COUNT(*) AS n_events,
  COUNT(k) AS n_valid_k,
  CAST(SUM(k) AS BIGINT) AS sum_k,
  MIN(k) AS min_k, MAX(k) AS max_k
FROM (SELECT event_type, {_SQL_K} AS k FROM events) t
GROUP BY event_type ORDER BY event_type
"""


def json_agg_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate on an extracted JSON field (bucket props.k by decade)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select((k - k % 10).alias("k_decade"), "value")
        .groupBy("k_decade")
        .agg(F.count(F.lit(1)).alias("n"), csum("value").alias("sum_value"))
        .orderBy("k_decade")
    )


_JSON_AGG_SQL = f"""
SELECT k - k % 10 AS k_decade, COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM (SELECT {_SQL_K} AS k, value FROM events) t
GROUP BY k_decade ORDER BY k_decade
"""


def array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array construction / explode / higher-order functions.

    Builds a per-order array of its line quantities, then uses
    size/contains/transform/filter/aggregate — the built-in higher-order
    functions that keep array math JVM-side (no Python UDF).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_list(F.col("l_quantity").cast("int"))).alias("qtys"))
        .select(
            "l_orderkey",
            F.size("qtys").alias("n_lines"),
            F.array_contains("qtys", 25).cast("int").alias("has_qty25"),
            F.aggregate("qtys", F.lit(0), lambda acc, x: acc + x).alias("total_qty"),
            F.size(F.filter("qtys", lambda x: x > 25)).alias("n_big"),
            F.array_join(F.transform("qtys", lambda x: (x * 2).cast("string")), ",").alias(
                "doubled_csv"
            ),
        )
    )


_ARRAY_SQL = """
WITH per_order AS (
  SELECT l_orderkey, list_sort(list(CAST(l_quantity AS INT))) AS qtys
  FROM lineitem GROUP BY l_orderkey
)
SELECT l_orderkey,
  CAST(len(qtys) AS INT) AS n_lines,
  CAST(list_contains(qtys, 25) AS INT) AS has_qty25,
  CAST(list_sum(qtys) AS INT) AS total_qty,
  CAST(len(list_filter(qtys, x -> x > 25)) AS INT) AS n_big,
  array_to_string(list_transform(qtys, x -> CAST(x * 2 AS VARCHAR)), ',') AS doubled_csv
FROM per_order ORDER BY l_orderkey
"""


def map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map construction + explode: per-status counts as a map column,
    exploded back to rows (map_keys/map_values/explode on maps)."""
    orders = load_table(spark, sf_dir, "orders")
    # aggregate duplicate keys first: count per (custkey,status), then map
    per = orders.groupBy("o_custkey", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )
    m = per.groupBy("o_custkey").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("o_orderstatus", "n")))
        ).alias("status_map")
    )
    return m.select(
        "o_custkey", F.explode("status_map").alias("status", "n_orders")
    )


_MAP_SQL = """
SELECT o_custkey, o_orderstatus AS status, COUNT(*) AS n_orders
FROM orders GROUP BY o_custkey, o_orderstatus
ORDER BY o_custkey, status
"""


def window_tumbling_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 6-hour event-time windows: streaming/windows.tumbling_counts
    on the batch `events` table, the aggregate stream_tumbling_watermark
    runs through the streaming runtime."""
    ev = load_table(spark, sf_dir, "events")
    start = second("window_start").alias("window_start")
    return (
        tumbling_counts(ev, "6 hours")
        .select(start, "event_type", "n", "sum_value")
        .orderBy("window_start", "event_type")
    )


_TUMBLING_SQL = """
SELECT strftime(time_bucket(INTERVAL '6 hours', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
  event_type, COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events
GROUP BY window_start, event_type
ORDER BY window_start, event_type
"""


def window_sliding_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 6-hour windows every 3 hours: streaming/windows.sliding_counts
    on the batch `events` table. Each event lands in exactly
    window/slide = 2 overlapping windows.

    Scale notes: `F.window` with a slide expands each row to k=2 window
    memberships before the agg — a bounded row multiplier (k), not a
    join; the shuffle key is (window, event_type) so partial aggs still
    collapse map-side.
    """
    ev = load_table(spark, sf_dir, "events")
    start = second("window_start").alias("window_start")
    return (
        sliding_counts(ev, "6 hours", "3 hours")
        .select(start, "event_type", "n", "sum_value")
        .orderBy("window_start", "event_type")
    )


# Sliding = each event expanded to its k=window/slide bucket starts:
# time_bucket(slide, ts) - i*slide for i in 0..k-1 (start+window > ts
# holds for all i < k, so no extra filter is needed).
_SLIDING_SQL = """
WITH exp AS (
  SELECT event_type, value,
    time_bucket(INTERVAL '3 hours', ts) - (o.o * INTERVAL '3 hours') AS window_start
  FROM events, (SELECT UNNEST([0, 1]) AS o) o
)
SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
  event_type, COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM exp
GROUP BY window_start, event_type
ORDER BY window_start, event_type
"""


def window_session_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (30-minute inactivity gap):
    streaming/windows.session_counts on the batch `events` table —
    oracled by the classic gaps-and-islands SQL."""
    ev = load_table(spark, sf_dir, "events")
    start = second("session_start").alias("session_start")
    return session_counts(ev).select("user_id", start, "n_events", "sum_value")


# Boundary semantics (measured, Spark 4.1.2; pinned by
# tests/test_streaming.py::test_session_window_exact_gap_merges):
# an event at exactly prev_ts + gap MERGES into the session, so only a
# strictly-greater gap starts a new one — `>` here, not `>=`.
_SESSION_SQL = """
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
FROM sess GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


def resample_daily_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with gap fill: per-user daily activity on
    a dense calendar spine (that user's min→max day), empty days carried
    forward from the last observed daily total (LOCF) — the
    regularization pass before any per-entity time-series modeling.

    Scale notes: the spine is generated row-locally per user via
    `sequence()` (bounded by days-in-range, not corpus size) and every
    join/window is equi-keyed on user_id — one shuffle partitioning
    serves the daily rollup, the spine join, and the carry-forward
    window. No global sort, no driver-side calendar.
    """
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("user_id", F.date_trunc("day", "ts").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("day_value"),
        )
    )
    bounds = daily.groupBy("user_id").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    spine = bounds.select(
        "user_id",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("d"),
    )
    j = spine.join(daily, ["user_id", "d"], "left")
    w = W.partitionBy("user_id").orderBy("d").rowsBetween(W.unboundedPreceding, 0)
    return (
        j.select(
            "user_id",
            day("d").alias("day"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.round(
                F.last("day_value", ignorenulls=True).over(w), 4
            ).alias("filled_value"),
        )
    )


_RESAMPLE_SQL = """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS d, COUNT(*) AS n_events,
    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS day_value
  FROM events GROUP BY user_id, date_trunc('day', ts)
),
bounds AS (SELECT user_id, MIN(d) AS d0, MAX(d) AS d1 FROM daily GROUP BY user_id),
spine AS (
  SELECT user_id, UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS d FROM bounds
),
j AS (
  SELECT s.user_id, s.d, COALESCE(daily.n_events, 0) AS n_events, daily.day_value
  FROM spine s LEFT JOIN daily ON s.user_id = daily.user_id AND s.d = daily.d
)
SELECT user_id, strftime(d, '%Y-%m-%d') AS day, n_events,
  ROUND(last_value(day_value IGNORE NULLS)
        OVER (PARTITION BY user_id ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
    AS filled_value
FROM j ORDER BY user_id, day
"""


EWMA_ALPHA = 0.25


def timeseries_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of `value` over
    event time — the classic streaming-feature recurrence
    (``ewma_i = α·x_i + (1-α)·ewma_{i-1}``, seeded with the first
    observation) that feature-engineering pipelines attach to every
    entity.

    Why not a window function: the recurrence's closed form
    ``α·Σ (1-α)^(i-j)·x_j`` needs ``(1-α)^(-j)`` factors that overflow
    double at a few hundred rows per key, so the "prefix sum with
    decay" trick is numerically dead on real history lengths. The
    scalable shape for any LINEAR per-key recurrence is one shuffle to
    the key then a ROW-LOCAL ordered fold: collect the key's history
    (bounded by per-user event count — the same per-group guarantee
    chunk reassembly and sessionization rely on) sorted by (ts,
    event_id), and run the O(n) fold inside `aggregate()`. Both
    engines execute the identical left fold over the identically
    ordered operands in IEEE doubles, so the oracle (DuckDB
    ``list_reduce`` over ``array_agg(... ORDER BY ...)``) matches
    bit-for-bit before the presentation rounding.
    """
    ev = load_table(spark, sf_dir, "events", rebalance=True)
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(
                "array_sort(collect_list(struct(ts, event_id, value)))"
            ).alias("h"),
        )
        .select(
            "user_id",
            "n_events",
            F.round(
                F.expr(
                    f"aggregate(slice(h, 2, size(h) - 1),"
                    f" cast(h[0].value as double),"
                    f" (acc, x) -> {EWMA_ALPHA} * x.value"
                    f" + {1 - EWMA_ALPHA} * acc)"
                ),
                6,
            ).alias("ewma_last"),
        )
        .orderBy("user_id")
    )


_EWMA_SQL = f"""
SELECT user_id,
  COUNT(*) AS n_events,
  ROUND(list_reduce(array_agg(CAST(value AS DOUBLE) ORDER BY ts, event_id),
                    (acc, x) -> {EWMA_ALPHA} * x + {1 - EWMA_ALPHA} * acc), 6)
    AS ewma_last
FROM events
GROUP BY user_id
ORDER BY user_id
"""


def interval_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user MAX CONCURRENT INTERVALS via a sweep line — the
    "peak simultaneous sessions" operator (room-booking / connection-
    pool / overlapping-jobs analytics) that plain windowed aggregation
    cannot express. Each event opens an interval [ts, ts + horizon)
    whose length depends on event_type (purchase 60 min, click 30,
    else 15 — the dynamic-gap gate's engagement horizons); the answer
    is the maximum number of simultaneously open intervals per user.

    Sweep line as relational algebra: every interval becomes a +1
    point at its start and a -1 at its end; a running sum over the
    per-user time-ordered point stream is the live-interval count, and
    its max is the answer. Ordering (t, delta) with delta = -1 first
    makes the intervals half-open — an interval ending exactly when
    another starts does not overlap it. Tie groups share one delta, so
    the partial-sum multiset (hence the max) is order-invariant within
    a group.

    Scale: the sweep is a window over (user_id), so the work is one
    shuffle on the natural key and each user's point stream is tiny —
    no all-pairs interval join anywhere; 2 rows per event, pruned to 3
    columns before the shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    horizon = (
        F.when(F.col("event_type") == "purchase", F.expr("INTERVAL 60 MINUTES"))
        .when(F.col("event_type") == "click", F.expr("INTERVAL 30 MINUTES"))
        .otherwise(F.expr("INTERVAL 15 MINUTES"))
    )
    iv = ev.select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + horizon).alias("e"),
    )
    pts = iv.select(
        "user_id", F.col("s").alias("t"), F.lit(1).alias("d")
    ).unionByName(
        iv.select("user_id", F.col("e").alias("t"), F.lit(-1).alias("d"))
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        pts.withColumn("live", F.sum("d").over(w))
        .groupBy("user_id")
        .agg(
            F.max("live").alias("max_concurrent"),
            (F.count(F.lit(1)) / 2).cast("long").alias("n_intervals"),
        )
        .orderBy("user_id")
    )


_INTERVAL_CONCURRENCY_SQL = """
WITH iv AS (
  SELECT user_id, ts AS s,
    ts + CASE event_type WHEN 'purchase' THEN INTERVAL '60 minutes'
                         WHEN 'click' THEN INTERVAL '30 minutes'
                         ELSE INTERVAL '15 minutes' END AS e
  FROM events
),
pts AS (
  SELECT user_id, s AS t, 1 AS d FROM iv
  UNION ALL
  SELECT user_id, e AS t, -1 AS d FROM iv
),
swept AS (
  SELECT user_id,
    SUM(d) OVER (PARTITION BY user_id ORDER BY t, d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS live
  FROM pts
)
SELECT user_id, CAST(MAX(live) AS BIGINT) AS max_concurrent,
  CAST(COUNT(*) / 2 AS BIGINT) AS n_intervals
FROM swept
GROUP BY user_id
ORDER BY user_id
"""


def timeseries_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user TIME-WEIGHTED average of `value` — the TWAP/sensor
    operator where a reading holds until the next one arrives: each
    event's value is weighted by its holding duration (seconds until
    the user's next event; the last event holds nothing), normalized
    by the user's observed span. Plain arithmetic means over-weight
    burst periods; TWA is the standard fix.

    One `lead` window per user (total (ts, event_id) order — duplicate
    timestamps get zero-duration slices deterministically), then a
    decimal-exact weighted fold: value×seconds summed as DECIMAL so
    the cross-partition accumulation is order-independent. One shuffle
    on user_id; no UDF.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    slic = ev.select(
        "user_id",
        "value",
        (
            F.unix_timestamp(F.lead("ts").over(w))
            - F.unix_timestamp("ts")
        ).alias("dur_s"),
    ).filter(F.col("dur_s").isNotNull())
    return (
        slic.groupBy("user_id")
        .agg(
            F.sum(
                (F.col("value").cast("decimal(18,4)") * F.col("dur_s")).cast(
                    "decimal(28,4)"
                )
            ).alias("wsum"),
            F.sum("dur_s").alias("span_s"),
        )
        .filter(F.col("span_s") > 0)
        .select(
            "user_id",
            F.round(
                (F.col("wsum") / F.col("span_s")).cast("double"), 6
            ).alias("twa_value"),
            "span_s",
        )
        .orderBy("user_id")
    )


_TWA_SQL = """
WITH s AS (
  SELECT user_id, value,
    CAST(FLOOR(epoch(LEAD(ts) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id))) AS BIGINT)
      - CAST(FLOOR(epoch(ts)) AS BIGINT) AS dur_s
  FROM events
)
SELECT user_id,
  ROUND(CAST(SUM(CAST(CAST(value AS DECIMAL(18,4)) * dur_s
                      AS DECIMAL(28,4)))
             / SUM(dur_s) AS DOUBLE), 6) AS twa_value,
  CAST(SUM(dur_s) AS BIGINT) AS span_s
FROM s
WHERE dur_s IS NOT NULL
GROUP BY user_id
HAVING SUM(dur_s) > 0
ORDER BY user_id
"""


def timeseries_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user CUSUM change detection (Page 1954) — the sequential
    drift alarm: S_i = max(0, S_{i-1} + (x_i − μ − 0.5σ)), alarm when
    the running max crosses 3σ. The recurrence is NONLINEAR (the
    max-with-zero reset), so no prefix-sum trick applies at all — this
    is the per-key ordered-fold shape (`timeseries_ewma`'s scalable
    pattern) with a STRUCT accumulator carrying (running S, running
    max S) through one `aggregate()` fold.

    μ and σ come from one exact-decimal global moment pass (Σx, Σx² —
    the corr-matrix discipline) broadcast as a one-row frame, and both
    engines evaluate the identical IEEE expression for them, so the
    folds run over bit-identical operands in the identical (ts,
    event_id) total order. One shuffle to the key; O(n) row-local
    fold; no UDF.
    """
    ev = load_table(spark, sf_dir, "events", rebalance=True)
    moments = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("sv"),
        F.sum(
            F.col("value").cast("decimal(19,6)")
            * F.col("value").cast("decimal(19,6)")
        ).alias("qv"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("sv").cast("double") / nd
    sd = F.sqrt(
        nd * F.col("qv").cast("double")
        - F.col("sv").cast("double") * F.col("sv").cast("double")
    ) / nd
    scal = moments.select(
        (mean + 0.5 * sd).alias("mu"), (3.0 * sd).alias("alarm_h")
    )
    hist = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr(
            "array_sort(collect_list(struct(ts, event_id, value)))"
        ).alias("h"),
    )
    folded = hist.crossJoin(F.broadcast(scal)).select(
        "user_id",
        "n_events",
        "alarm_h",
        # field order m BEFORE s: DuckDB evaluates struct-literal lambda
        # fields sequentially (acc.s rebinds to the new value mid-
        # struct — measured), so the running max must read acc.s before
        # the s field updates; Spark evaluates both from the old acc,
        # where either order is correct
        F.expr(
            "aggregate(h,"
            " struct(cast(0.0 as double) as m, cast(0.0 as double) as s),"
            " (acc, x) -> struct("
            "   greatest(acc.m,"
            "     greatest(cast(0.0 as double), acc.s + (x.value - mu)))"
            "     as m,"
            "   greatest(cast(0.0 as double), acc.s + (x.value - mu))"
            "     as s))"
        ).alias("c"),
    )
    return folded.select(
        "user_id",
        "n_events",
        F.round(F.col("c.s"), 6).alias("cusum_final"),
        F.round(F.col("c.m"), 6).alias("cusum_max"),
        (F.col("c.m") > F.col("alarm_h")).alias("alarm"),
    ).orderBy("user_id")


_CUSUM_SQL = """
WITH mo AS (
  SELECT COUNT(*) AS n,
    SUM(CAST(value AS DECIMAL(18,4))) AS sv,
    SUM(CAST(value AS DECIMAL(19,6)) * CAST(value AS DECIMAL(19,6))) AS qv
  FROM events
),
sc AS (
  SELECT
    CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)
      + 0.5 * (SQRT(CAST(n AS DOUBLE) * CAST(qv AS DOUBLE)
               - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
               / CAST(n AS DOUBLE)) AS mu,
    3.0 * (SQRT(CAST(n AS DOUBLE) * CAST(qv AS DOUBLE)
           - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
           / CAST(n AS DOUBLE)) AS alarm_h
  FROM mo
),
folded AS (
  -- mu/alarm_h cross-joined in as plain columns: DuckDB lambdas may
  -- reference row columns but not subqueries
  SELECT user_id, mu, alarm_h, COUNT(*) AS n_events,
    list_reduce(
      list_prepend({'m': CAST(0.0 AS DOUBLE), 's': CAST(0.0 AS DOUBLE)},
        list_transform(array_agg(CAST(value AS DOUBLE) ORDER BY ts, event_id),
                       v -> {'m': CAST(0.0 AS DOUBLE), 's': v})),
      (acc, x) -> {
        'm': greatest(acc.m, greatest(0.0, acc.s + (x.s - mu))),
        's': greatest(0.0, acc.s + (x.s - mu))
      }) AS c
  FROM events CROSS JOIN sc GROUP BY user_id, mu, alarm_h
)
SELECT user_id, n_events,
  ROUND(c.s, 6) AS cusum_final,
  ROUND(c.m, 6) AS cusum_max,
  c.m > alarm_h AS alarm
FROM folded
ORDER BY user_id
"""


QUERIES = {
    "timeseries_cusum": timeseries_cusum,
    "timeseries_twa": timeseries_twa,
    "interval_max_concurrency": interval_max_concurrency,
    "timeseries_ewma": timeseries_ewma,
    "json_extract_props": json_extract_props,
    "json_tuple_explode_outer": json_tuple_explode_outer,
    "json_schema_inference": json_schema_inference,
    "json_variant_ops": json_variant_ops,
    "json_agg_by_key": json_agg_by_key,
    "array_ops": array_ops,
    "map_ops": map_ops,
    "window_tumbling_batch": window_tumbling_batch,
    "window_sliding_batch": window_sliding_batch,
    "window_session_batch": window_session_batch,
    "resample_daily_locf": resample_daily_locf,
}

ORACLE = {
    "timeseries_cusum": _CUSUM_SQL,
    "timeseries_twa": _TWA_SQL,
    "interval_max_concurrency": _INTERVAL_CONCURRENCY_SQL,
    "timeseries_ewma": _EWMA_SQL,
    "json_extract_props": _JSON_SQL,
    "json_tuple_explode_outer": _JSON_TUPLE_SQL,
    "json_schema_inference": _JSON_SCHEMA_SQL,
    "json_variant_ops": _JSON_VARIANT_SQL,
    "json_agg_by_key": _JSON_AGG_SQL,
    "array_ops": _ARRAY_SQL,
    "map_ops": _MAP_SQL,
    "window_tumbling_batch": _TUMBLING_SQL,
    "window_sliding_batch": _SLIDING_SQL,
    "window_session_batch": _SESSION_SQL,
    "resample_daily_locf": _RESAMPLE_SQL,
}

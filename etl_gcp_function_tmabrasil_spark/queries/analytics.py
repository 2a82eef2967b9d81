"""Behavioral / statistical analytics operators (round 9, late wave).

Product analytics and data-quality surfaces a warehouse team runs
daily — cohort retention, Markov transition matrices, RFM
segmentation, Deequ-style constraint verification, linear gap-fill
interpolation, Welch's two-sample t-test, and word-pair PMI — each
expressed as one declarative DataFrame plan with an exact DuckDB
oracle twin.

Reference parity note: the reference pipeline's ETL body is the
placeholder at `main.py:17`; these operators extend the §2.2
analytics inventory the same way every post-r4 wave has (SURVEY.md
§2.2 amendment due at the next round boundary per the frozen-table
rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from etl_gcp_function_tmabrasil_spark.queries._util import (
    day,
    dsum,
    load_table,
    managed_persist,
)

# ---------------------------------------------------------------------------
# Weekly cohort retention
# ---------------------------------------------------------------------------


def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle: users are cohorted by the week
    of their FIRST event; for every (cohort_week, week_offset) the
    output counts the cohort members active that week and the
    retention ratio — the classic D1/D7/D30 analysis at weekly grain,
    which stays dense on sparse synthetic timelines where exact-day
    retention would be mostly zeros.

    Scale: the per-user first-event reduction and the (user, week)
    de-dup are both keyed on user_id (one shuffle partitioning serves
    the rollup and the cohort join); the retention matrix is
    cohorts × offsets — calendar-sized, never corpus-sized — and the
    cohort-size join on it is broadcastable by construction.
    """
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_w")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("w")
    ).distinct()
    ret = (
        active.join(firsts, "user_id")
        .groupBy(
            "cohort_w",
            F.floor(F.datediff("w", "cohort_w") / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    sizes = firsts.groupBy("cohort_w").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        ret.join(F.broadcast(sizes), "cohort_w")
        .select(
            day("cohort_w").alias("cohort_week"),
            "week_offset",
            "n_active",
            "cohort_size",
            F.round(
                F.col("n_active").cast("double") / F.col("cohort_size"), 6
            ).alias("retention"),
        )
        .orderBy("cohort_week", "week_offset")
    )


_RETENTION_SQL = """
WITH firsts AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_w
  FROM events GROUP BY user_id
),
active AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events),
r AS (
  SELECT f.cohort_w,
    CAST(datediff('day', f.cohort_w, a.w) // 7 AS INT) AS week_offset,
    COUNT(*) AS n_active
  FROM active a JOIN firsts f USING (user_id)
  GROUP BY 1, 2
),
s AS (SELECT cohort_w, COUNT(*) AS cohort_size FROM firsts GROUP BY cohort_w)
SELECT strftime(r.cohort_w, '%Y-%m-%d') AS cohort_week, r.week_offset,
  r.n_active, s.cohort_size,
  ROUND(CAST(r.n_active AS DOUBLE) / s.cohort_size, 6) AS retention
FROM r JOIN s USING (cohort_w)
ORDER BY cohort_week, week_offset
"""

# ---------------------------------------------------------------------------
# Markov transition matrix over event sequences
# ---------------------------------------------------------------------------


def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current event type), estimated from
    consecutive event pairs under the total per-user order (ts,
    event_id) — the behavioral model behind next-action prediction and
    funnel-leak analysis.

    Scale: one window pass keyed on user_id produces the transition
    pairs row-locally (lead), the pair rollup is an
    event-type² aggregation (vocabulary-sized), and the per-source
    normalization is a window over that tiny rollup — no second scan
    of the corpus.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    tot = W.partitionBy("src")
    return (
        pairs.select(
            "src",
            "dst",
            "n_trans",
            F.round(
                F.col("n_trans").cast("double")
                / F.sum("n_trans").over(tot),
                6,
            ).alias("p_trans"),
        )
        .orderBy("src", "dst")
    )


_MARKOV_SQL = """
WITH seq AS (
  SELECT event_type AS src,
    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM events
),
pairs AS (
  SELECT src, dst, COUNT(*) AS n_trans
  FROM seq WHERE dst IS NOT NULL GROUP BY src, dst
)
SELECT src, dst, n_trans,
  ROUND(CAST(n_trans AS DOUBLE) / SUM(n_trans) OVER (PARTITION BY src), 6)
    AS p_trans
FROM pairs
ORDER BY src, dst
"""

# ---------------------------------------------------------------------------
# RFM segmentation
# ---------------------------------------------------------------------------


def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation:
    per-customer recency-in-days against the corpus max order date,
    order count, and decimal-exact spend, each discretized into global
    quartiles — the standard CRM segmentation rollup.

    Quartile ASSIGNMENT deliberately avoids a global `ntile` window
    (a single-task sort over every customer at scale): thresholds come
    from the engine's bounded-memory banded exact-quantile operator
    (`operators/quantiles.py` — the same machinery and 4-dp threshold
    contract as `feature_binning_equidepth`), broadcast back, and the
    score is a row-local compare (1 + Σ(x > t_k); quartile 4 = most
    days stale for R, top quartile for F/M). Output is the segment
    rollup (quartile triple → member count + per-metric means), so the
    result is segment-sized, not customer-sized.
    """
    from etl_gcp_function_tmabrasil_spark.operators.quantiles import (
        banded_exact_quantiles,
    )

    orders = load_table(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("anchor"))
    # persisted: consumed by the three quantile derivations AND the
    # scoring join — unpersisted, each banded_exact_quantiles call
    # re-aggregates the orders table (measured: 44 exchanges in the
    # executed plan, collapsing to one customer-rollup scan here)
    per_cust = managed_persist(
        orders.join(F.broadcast(anchor))
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.first("anchor"), F.max("o_orderdate"))
            .cast("double")
            .alias("r_days"),
            F.count(F.lit(1)).cast("double").alias("freq"),
            dsum("o_totalprice").alias("monetary"),
        )
        .withColumn("g_all", F.lit("all")),
        "analytics.rfm_per_cust",
    )
    qmap = {"t25": 0.25, "t50": 0.5, "t75": 0.75}
    # ONE banded-quantile pass for all three metrics: unpivot to
    # (metric, value) and group by metric — three separate calls ran
    # the band machinery three times (measured 3x the exchanges for
    # identical thresholds)
    unpivoted = per_cust.select(
        F.expr(
            "stack(3, 'r_days', r_days, 'freq', freq,"
            " 'monetary', monetary) as (metric, value)"
        )
    )
    per_metric = banded_exact_quantiles(unpivoted, "metric", "value", qmap)
    ths = per_metric.groupBy().agg(
        *[
            F.first(
                F.when(F.col("metric") == m, F.col(t))
            , ignorenulls=True).alias(f"{m}_{t}")
            for m in ("r_days", "freq", "monetary")
            for t in ("t25", "t50", "t75")
        ]
    )

    def score(metric: str) -> F.Column:
        c = F.col(metric)
        return (
            F.lit(1)
            + (c > F.col(f"{metric}_t25")).cast("int")
            + (c > F.col(f"{metric}_t50")).cast("int")
            + (c > F.col(f"{metric}_t75")).cast("int")
        )

    scored = per_cust.join(F.broadcast(ths)).select(
        "o_custkey",
        "r_days",
        "freq",
        "monetary",
        score("r_days").alias("r_q"),
        score("freq").alias("f_q"),
        score("monetary").alias("m_q"),
    )
    return (
        scored.groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("r_days"), 4).alias("avg_recency_days"),
            F.round(F.avg("freq"), 4).alias("avg_frequency"),
            F.round(dsum("monetary") / F.count(F.lit(1)), 4).alias(
                "avg_monetary"
            ),
        )
        .orderBy("r_q", "f_q", "m_q")
    )


_RFM_SQL = """
WITH anchor AS (SELECT MAX(o_orderdate) AS a FROM orders),
per_cust AS (
  SELECT o_custkey,
    CAST(datediff('day', MAX(o_orderdate), (SELECT a FROM anchor)) AS DOUBLE)
      AS r_days,
    CAST(COUNT(*) AS DOUBLE) AS freq,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS monetary
  FROM orders GROUP BY o_custkey
),
th AS (
  SELECT
    ROUND(quantile_cont(r_days, 0.25), 4) AS r_t25,
    ROUND(quantile_cont(r_days, 0.5), 4) AS r_t50,
    ROUND(quantile_cont(r_days, 0.75), 4) AS r_t75,
    ROUND(quantile_cont(freq, 0.25), 4) AS f_t25,
    ROUND(quantile_cont(freq, 0.5), 4) AS f_t50,
    ROUND(quantile_cont(freq, 0.75), 4) AS f_t75,
    ROUND(quantile_cont(monetary, 0.25), 4) AS m_t25,
    ROUND(quantile_cont(monetary, 0.5), 4) AS m_t50,
    ROUND(quantile_cont(monetary, 0.75), 4) AS m_t75
  FROM per_cust
),
scored AS (
  SELECT p.o_custkey, p.r_days, p.freq, p.monetary,
    1 + CAST(p.r_days > t.r_t25 AS INT) + CAST(p.r_days > t.r_t50 AS INT)
      + CAST(p.r_days > t.r_t75 AS INT) AS r_q,
    1 + CAST(p.freq > t.f_t25 AS INT) + CAST(p.freq > t.f_t50 AS INT)
      + CAST(p.freq > t.f_t75 AS INT) AS f_q,
    1 + CAST(p.monetary > t.m_t25 AS INT) + CAST(p.monetary > t.m_t50 AS INT)
      + CAST(p.monetary > t.m_t75 AS INT) AS m_q
  FROM per_cust p CROSS JOIN th t
)
SELECT r_q, f_q, m_q, COUNT(*) AS n_customers,
  ROUND(AVG(r_days), 4) AS avg_recency_days,
  ROUND(AVG(freq), 4) AS avg_frequency,
  ROUND(CAST(SUM(CAST(monetary AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 4)
    AS avg_monetary
FROM scored
GROUP BY r_q, f_q, m_q
ORDER BY r_q, f_q, m_q
"""

# ---------------------------------------------------------------------------
# Deequ-style data-quality constraint suite
# ---------------------------------------------------------------------------


def dq_constraint_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality verification (the Deequ/Great
    Expectations shape — Schelter et al. VLDB 2018): a fixed constraint
    suite over the warehouse evaluated in as few passes as the
    constraints allow — ONE aggregate scan of orders, ONE of lineitem,
    plus one anti-join for referential integrity — returning a
    (check_name, metric, passed) verdict table.

    Scale: constraint evaluation is metric fusion, not per-constraint
    scans — every column check on a table folds into the same
    partial+final aggregate; the referential check is an equi anti-join
    that AQE broadcasts when the dimension fits. Output is
    constraint-count-sized.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    om = orders.agg(
        F.count(F.lit(1)).alias("o_n"),
        F.countDistinct("o_orderkey").alias("o_nkey"),
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("o_null_cust"),
        F.min("o_totalprice").alias("o_min_price"),
        F.sum(
            F.col("o_orderstatus").isin("O", "F", "P").cast("long")
        ).alias("o_status_ok"),
    )
    lm = li.agg(
        F.count(F.lit(1)).alias("l_n"),
        F.sum(
            ((F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 50))
            .cast("long")
        ).alias("l_qty_ok"),
    )
    orph = (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("l_orphans"))
    )
    combined = om.join(F.broadcast(lm)).join(F.broadcast(orph))
    # empty-table semantics: ratio constraints are vacuously satisfied
    # (metric 1.0, passed) — under ANSI mode a bare /o_n would raise
    # DIVIDE_BY_ZERO on a freshly-truncated table (caught by the
    # empty-input suite); the min-bound check has no rows to violate
    return combined.select(
        F.expr(
            "stack(6,"
            " 'orders.o_orderkey is unique',"
            "   case when o_n = 0 then 1.0"
            "        else round(cast(o_nkey as double) / o_n, 6) end,"
            "   o_nkey = o_n,"
            " 'orders.o_custkey is complete',"
            "   case when o_n = 0 then 1.0"
            "        else round(1.0 - cast(o_null_cust as double) / o_n, 6) end,"
            "   o_null_cust = 0,"
            " 'orders.o_totalprice >= 0',"
            "   coalesce(round(cast(o_min_price as double), 6), 0.0),"
            "   coalesce(o_min_price >= 0, true),"
            " 'orders.o_orderstatus in (O,F,P)',"
            "   case when o_n = 0 then 1.0"
            "        else round(cast(o_status_ok as double) / o_n, 6) end,"
            "   o_status_ok = o_n,"
            " 'lineitem.l_quantity in [1,50]',"
            "   case when l_n = 0 then 1.0"
            "        else round(cast(l_qty_ok as double) / l_n, 6) end,"
            "   l_qty_ok = l_n,"
            " 'lineitem.l_orderkey references orders',"
            "   round(cast(l_orphans as double), 6),"
            "   l_orphans = 0"
            ") as (check_name, metric, passed)"
        )
    ).orderBy("check_name")


_DQ_SQL = """
WITH om AS (
  SELECT COUNT(*) AS o_n, COUNT(DISTINCT o_orderkey) AS o_nkey,
    SUM(CAST(o_custkey IS NULL AS BIGINT)) AS o_null_cust,
    MIN(o_totalprice) AS o_min_price,
    SUM(CAST(o_orderstatus IN ('O','F','P') AS BIGINT)) AS o_status_ok
  FROM orders
),
lm AS (
  SELECT COUNT(*) AS l_n,
    SUM(CAST(l_quantity BETWEEN 1 AND 50 AS BIGINT)) AS l_qty_ok
  FROM lineitem
),
orph AS (
  SELECT COUNT(*) AS l_orphans FROM lineitem l
  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
),
v AS (
  SELECT 'orders.o_orderkey is unique' AS check_name,
    CASE WHEN o_n = 0 THEN 1.0
         ELSE ROUND(CAST(o_nkey AS DOUBLE) / o_n, 6) END AS metric,
    o_nkey = o_n AS passed
  FROM om
  UNION ALL
  SELECT 'orders.o_custkey is complete',
    CASE WHEN o_n = 0 THEN 1.0
         ELSE ROUND(1.0 - CAST(o_null_cust AS DOUBLE) / o_n, 6) END,
    o_null_cust = 0
  FROM om
  UNION ALL
  SELECT 'orders.o_totalprice >= 0',
    COALESCE(ROUND(CAST(o_min_price AS DOUBLE), 6), 0.0),
    COALESCE(o_min_price >= 0, TRUE)
  FROM om
  UNION ALL
  SELECT 'orders.o_orderstatus in (O,F,P)',
    CASE WHEN o_n = 0 THEN 1.0
         ELSE ROUND(CAST(o_status_ok AS DOUBLE) / o_n, 6) END,
    o_status_ok = o_n
  FROM om
  UNION ALL
  SELECT 'lineitem.l_quantity in [1,50]',
    CASE WHEN l_n = 0 THEN 1.0
         ELSE ROUND(CAST(l_qty_ok AS DOUBLE) / l_n, 6) END,
    l_qty_ok = l_n
  FROM lm
  UNION ALL
  SELECT 'lineitem.l_orderkey references orders',
    ROUND(CAST(l_orphans AS DOUBLE), 6), l_orphans = 0
  FROM lm, orph
)
SELECT check_name, metric, passed FROM v ORDER BY check_name
"""

# ---------------------------------------------------------------------------
# Linear-interpolation gap fill
# ---------------------------------------------------------------------------


def resample_daily_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily resampling with LINEAR interpolation across gaps —
    the complement of `resample_daily_locf`: a missing day's value is
    the straight line between the surrounding observed days
    (prev + (next − prev) · Δ/span), with carry-forward at the tail
    (and carry-back at a head, unreachable here because the spine
    starts at each user's first observed day — kept for input
    robustness).

    Scale: same one-partitioning shape as LOCF — the spine is
    row-local `sequence()`, and BOTH bracketing-observation windows
    (last-non-null before, first-non-null after) reuse the single
    user_id hash partitioning; no second shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("d")
    ).agg(dsum("value").alias("day_value"))
    bounds = daily.groupBy("user_id").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    spine = bounds.select(
        "user_id",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("d"),
    )
    j = spine.join(daily, ["user_id", "d"], "left")
    wp = W.partitionBy("user_id").orderBy("d").rowsBetween(
        W.unboundedPreceding, 0
    )
    wn = W.partitionBy("user_id").orderBy("d").rowsBetween(
        0, W.unboundedFollowing
    )
    obs_d = F.when(F.col("day_value").isNotNull(), F.col("d"))
    marked = j.select(
        "user_id",
        "d",
        F.last("day_value", ignorenulls=True).over(wp).alias("pv"),
        F.last(obs_d, ignorenulls=True).over(wp).alias("pd"),
        F.first("day_value", ignorenulls=True).over(wn).alias("nv"),
        F.first(obs_d, ignorenulls=True).over(wn).alias("nd"),
    )
    span = F.datediff("nd", "pd").cast("double")
    frac = F.datediff("d", "pd").cast("double") / span
    filled = (
        F.when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .when(span == 0, F.col("pv"))
        .otherwise(F.col("pv") + (F.col("nv") - F.col("pv")) * frac)
    )
    return marked.select(
        "user_id",
        day("d").alias("day"),
        F.round(filled, 4).alias("filled_value"),
        (F.col("pd") == F.col("d")).alias("observed"),
    ).orderBy("user_id", "day")


_INTERP_SQL = """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS d,
    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS day_value
  FROM events GROUP BY user_id, date_trunc('day', ts)
),
bounds AS (SELECT user_id, MIN(d) AS d0, MAX(d) AS d1 FROM daily GROUP BY user_id),
spine AS (
  SELECT user_id, UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS d FROM bounds
),
j AS (
  SELECT s.user_id, s.d, daily.day_value
  FROM spine s LEFT JOIN daily ON s.user_id = daily.user_id AND s.d = daily.d
),
m AS (
  SELECT user_id, d,
    last_value(day_value IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY d
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    last_value(CASE WHEN day_value IS NOT NULL THEN d END IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY d
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
    first_value(day_value IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY d
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
    first_value(CASE WHEN day_value IS NOT NULL THEN d END IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY d
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
  FROM j
)
SELECT user_id, strftime(d, '%Y-%m-%d') AS day,
  ROUND(CASE
    WHEN pv IS NULL THEN nv
    WHEN nv IS NULL THEN pv
    WHEN datediff('day', pd, nd) = 0 THEN pv
    ELSE pv + (nv - pv) * (CAST(datediff('day', pd, d) AS DOUBLE)
                           / CAST(datediff('day', pd, nd) AS DOUBLE))
  END, 4) AS filled_value,
  pd = d AS observed
FROM m ORDER BY user_id, day
"""

# ---------------------------------------------------------------------------
# Welch's two-sample t-test
# ---------------------------------------------------------------------------

WELCH_CRIT = 1.96  #: two-sided z critical value at alpha = 0.05


def ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test per event type — the
    A/B-experiment readout. Variant assignment is the deterministic
    hash split experiment platforms use (user_id parity here); per
    (event_type, variant) the exact decimal sums (n, Σx, Σx²) fold
    into sample means/variances, then Welch's statistic
    t = (m_a − m_b)/√(v_a/n_a + v_b/n_b) and the Welch–Satterthwaite
    degrees of freedom.

    Scale: ONE aggregate scan computes both variants' moment sums via
    conditional aggregation (no per-variant rescans, no join); the
    test statistics are row-local arithmetic on an event-type-sized
    rollup. Exact decimal accumulation makes the doubles — and the
    oracle comparison — bit-reproducible regardless of partitioning.
    """
    ev = load_table(spark, sf_dir, "events")
    x = F.col("value")
    va = F.col("user_id") % 2 == 0

    def moments(cond, suffix):
        cx = F.when(cond, x)
        return [
            F.count(cx).cast("double").alias(f"n_{suffix}"),
            dsum(cx, 4, precision=28).alias(f"sx_{suffix}"),
            dsum(cx * cx, 8, precision=28).alias(f"sxx_{suffix}"),
        ]

    base = ev.groupBy("event_type").agg(
        *moments(va, "a"), *moments(~va, "b")
    )

    def stats(sfx):
        n = F.col(f"n_{sfx}")
        sx = F.col(f"sx_{sfx}")
        sxx = F.col(f"sxx_{sfx}")
        mean = sx / n
        var = (n * sxx - sx * sx) / (n * (n - 1))
        return n, mean, var

    na, ma, va_ = stats("a")
    nb, mb, vb = stats("b")
    sea, seb = va_ / na, vb / nb
    t = (ma - mb) / F.sqrt(sea + seb)
    dof = (sea + seb) * (sea + seb) / (
        sea * sea / (na - 1) + seb * seb / (nb - 1)
    )
    return base.select(
        "event_type",
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.round(t, 6).alias("t_stat"),
        F.round(dof, 6).alias("dof"),
        (F.abs(t) > WELCH_CRIT).alias("significant"),
    ).orderBy("event_type")


_WELCH_SQL = f"""
WITH base AS (
  SELECT event_type,
    CAST(COUNT(value) FILTER (WHERE user_id % 2 = 0) AS DOUBLE) AS n_a,
    CAST(SUM(CAST(value AS DECIMAL(28,4))) FILTER (WHERE user_id % 2 = 0)
         AS DOUBLE) AS sx_a,
    CAST(SUM(CAST(value * value AS DECIMAL(28,8)))
         FILTER (WHERE user_id % 2 = 0) AS DOUBLE) AS sxx_a,
    CAST(COUNT(value) FILTER (WHERE user_id % 2 <> 0) AS DOUBLE) AS n_b,
    CAST(SUM(CAST(value AS DECIMAL(28,4))) FILTER (WHERE user_id % 2 <> 0)
         AS DOUBLE) AS sx_b,
    CAST(SUM(CAST(value * value AS DECIMAL(28,8)))
         FILTER (WHERE user_id % 2 <> 0) AS DOUBLE) AS sxx_b
  FROM events GROUP BY event_type
),
s AS (
  SELECT event_type, n_a, n_b,
    sx_a / n_a AS mean_a, sx_b / n_b AS mean_b,
    ((n_a * sxx_a - sx_a * sx_a) / (n_a * (n_a - 1))) / n_a AS se_a,
    ((n_b * sxx_b - sx_b * sx_b) / (n_b * (n_b - 1))) / n_b AS se_b
  FROM base
)
SELECT event_type,
  CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  ROUND(mean_a, 6) AS mean_a, ROUND(mean_b, 6) AS mean_b,
  ROUND((mean_a - mean_b) / sqrt(se_a + se_b), 6) AS t_stat,
  ROUND((se_a + se_b) * (se_a + se_b)
        / (se_a * se_a / (n_a - 1) + se_b * se_b / (n_b - 1)), 6) AS dof,
  abs((mean_a - mean_b) / sqrt(se_a + se_b)) > {WELCH_CRIT} AS significant
FROM s ORDER BY event_type
"""

# ---------------------------------------------------------------------------
# Word-pair PMI
# ---------------------------------------------------------------------------

PMI_TOP_WORDS = 40  #: vocabulary cap — pairs are only scored among these


def text_word_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of word pairs co-occurring in the
    same document — PMI(w1, w2) = ln(P(w1,w2) / (P(w1)·P(w2))) over
    document-level presence, the classic collocation / association
    statistic (Church & Hanks 1990).

    The pair space is capped to the PMI_TOP_WORDS most frequent words
    (df DESC, word ASC — a total order), so the quadratic step is
    vocab-cap² and the per-document fan-out is bounded by the cap,
    never by document length. Document frequencies and the doc count
    come from the same exploded scan; the top-word table broadcasts.

    Scale: the only window is a row_number over the vocabulary-sized
    df table; pair candidates are a doc_id-keyed self-join of the
    capped (doc, word) list — corpus-linear rows in, cap-bounded
    fan-out per doc. (r15 note: the layout-guarded compute spread was
    measured here and REJECTED — interleaved A/B at sf0.1: plain
    1.135/1.272 min/med vs spread 1.419/1.564. The dw subtree feeds
    two consumers, so the round-robin exchange materializes twice and
    costs more than the scan-stage parallelism buys; the heavy work
    happens after the broadcast join, which is already parallel.)
    """
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    dw = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("w"),
    )
    df_tbl = dw.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    top = (
        df_tbl.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy(F.lit(1)).orderBy(F.desc("df"), "w")
            ),
        )
        .filter(F.col("rk") <= PMI_TOP_WORDS)
        .select("w", "df")
    )
    capped = dw.join(F.broadcast(top), "w")
    a = capped.select("doc_id", F.col("w").alias("w1"), F.col("df").alias("df1"))
    b = capped.select("doc_id", F.col("w").alias("w2"), F.col("df").alias("df2"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("w1") < F.col("w2"))
        .groupBy("w1", "w2")
        .agg(
            F.count(F.lit(1)).alias("n_pair"),
            F.first("df1").alias("df1"),
            F.first("df2").alias("df2"),
        )
    )
    pmi = F.log(
        (F.col("n_pair") * F.col("n_docs")).cast("double")
        / (F.col("df1") * F.col("df2"))
    )
    return (
        pairs.join(F.broadcast(n_docs))
        .select(
            "w1",
            "w2",
            "n_pair",
            F.round(pmi, 6).alias("pmi"),
        )
        .orderBy("w1", "w2")
    )


_PMI_SQL = f"""
WITH dw AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
  FROM documents
),
df_tbl AS (SELECT w, COUNT(*) AS df FROM dw GROUP BY w),
top AS (
  SELECT w, df FROM (
    SELECT w, df, row_number() OVER (ORDER BY df DESC, w) AS rk FROM df_tbl
  ) WHERE rk <= {PMI_TOP_WORDS}
),
capped AS (SELECT dw.doc_id, dw.w, top.df FROM dw JOIN top USING (w)),
pairs AS (
  SELECT a.w AS w1, b.w AS w2, COUNT(*) AS n_pair,
    ANY_VALUE(a.df) AS df1, ANY_VALUE(b.df) AS df2
  FROM capped a JOIN capped b ON a.doc_id = b.doc_id AND a.w < b.w
  GROUP BY a.w, b.w
),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT w1, w2, n_pair,
  ROUND(ln(CAST(n_pair * n_docs AS DOUBLE) / (df1 * df2)), 6) AS pmi
FROM pairs, n
ORDER BY w1, w2
"""


# ---------------------------------------------------------------------------
# Kaplan-Meier survival estimate
# ---------------------------------------------------------------------------


def survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-conversion: per user,
    duration in days from first event to first 'purchase' (censored at
    the corpus horizon when no purchase occurs), then the product-limit
    estimator S(t) = Π_{u ≤ t} (1 − d_u / n_u) over observed-event
    times — right-censoring handled exactly as Kaplan & Meier (1958)
    define it (censored-at-t users still count as at-risk at t).

    The running product is computed as exp(Σ ln(1 − d/n)) — the
    log-space trick that turns a window PRODUCT (which no SQL engine
    ships) into a window SUM.

    Scale: the per-user reduction is one user_id-keyed aggregate; the
    risk table has one row per DISTINCT duration (calendar-bounded —
    days in the corpus timeline, never user count), so the ordered
    windows over it are metadata-sized. The horizon is a one-row
    broadcast.
    """
    ev = load_table(spark, sf_dir, "events")
    horizon = ev.agg(F.max("ts").alias("h"))
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.min("ts").alias("t0"),
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            ).alias("tp"),
        )
        .join(F.broadcast(horizon))
        .select(
            F.datediff(F.coalesce("tp", "h"), F.col("t0")).alias("dur"),
            F.col("tp").isNotNull().cast("long").alias("observed"),
        )
    )
    at_t = per_user.groupBy("dur").agg(
        F.count(F.lit(1)).alias("m"), F.sum("observed").alias("d")
    )
    w_all = W.orderBy("dur").rowsBetween(W.unboundedPreceding, -1)
    risk = at_t.select(
        "dur",
        "d",
        (
            F.sum("m").over(W.partitionBy())
            - F.coalesce(F.sum("m").over(w_all), F.lit(0))
        ).alias("n_at_risk"),
    ).filter(F.col("d") > 0)
    w_cum = W.orderBy("dur").rowsBetween(W.unboundedPreceding, 0)
    # d == n_at_risk (everyone remaining converts at t) zeroes the
    # product; keep that row out of the log-sum (ln(0) is an error in
    # both engines) and force survival to 0 from it onward
    dead = F.col("d") == F.col("n_at_risk")
    logterm = F.when(dead, F.lit(0.0)).otherwise(
        F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_at_risk"))
    )
    surv = F.when(
        F.max(dead.cast("int")).over(w_cum) == 1, F.lit(0.0)
    ).otherwise(F.exp(F.sum(logterm).over(w_cum)))
    return risk.select(
        "dur",
        "n_at_risk",
        F.col("d").alias("n_events"),
        F.round(surv, 6).alias("survival"),
    ).orderBy("dur")


_KM_SQL = """
WITH horizon AS (SELECT MAX(ts) AS h FROM events),
per_user AS (
  SELECT
    datediff('day', MIN(ts),
             COALESCE(MIN(CASE WHEN event_type = 'purchase' THEN ts END),
                      (SELECT h FROM horizon))) AS dur,
    CAST(MIN(CASE WHEN event_type = 'purchase' THEN ts END) IS NOT NULL
         AS BIGINT) AS observed
  FROM events GROUP BY user_id
),
at_t AS (SELECT dur, COUNT(*) AS m, SUM(observed) AS d FROM per_user GROUP BY dur),
risk AS (
  SELECT dur, d,
    SUM(m) OVER () - COALESCE(SUM(m) OVER
      (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS n_at_risk
  FROM at_t
)
SELECT dur, CAST(n_at_risk AS BIGINT) AS n_at_risk,
  CAST(d AS BIGINT) AS n_events,
  ROUND(CASE WHEN MAX(CAST(d = n_at_risk AS INT)) OVER
          (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
        THEN 0.0
        ELSE exp(SUM(CASE WHEN d = n_at_risk THEN 0.0
                     ELSE ln(1.0 - CAST(d AS DOUBLE) / n_at_risk) END) OVER
          (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        END, 6) AS survival
FROM risk WHERE d > 0 ORDER BY dur
"""

# ---------------------------------------------------------------------------
# Categorical association: mutual information + chi-square
# ---------------------------------------------------------------------------


def assoc_mi_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association between two categorical columns (order priority ×
    order status) from ONE contingency pass: mutual information
    MI = Σ p_ij·ln(p_ij/(p_i·p_j)), Pearson's χ² = Σ (n_ij−e_ij)²/e_ij
    with e_ij = n_i·n_j/N, the (r−1)(c−1) dof, and Cramér's V — the
    feature-dependence screen run before any categorical encoding.

    Scale: the corpus is touched exactly once (the groupBy building
    the contingency cells); marginals, expected counts, and both
    statistics are windows/aggregates over the cell table, whose size
    is the product of the two cardinalities — never row count.
    """
    orders = load_table(spark, sf_dir, "orders")
    cells = orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_ij")
    )
    wr = W.partitionBy("o_orderpriority")
    wc = W.partitionBy("o_orderstatus")
    wn = W.partitionBy()
    enriched = cells.select(
        "o_orderpriority",
        "o_orderstatus",
        "n_ij",
        F.sum("n_ij").over(wr).alias("n_i"),
        F.sum("n_ij").over(wc).alias("n_j"),
        F.sum("n_ij").over(wn).alias("n"),
    )
    n = F.col("n").cast("double")
    p_ij = F.col("n_ij") / n
    e_ij = F.col("n_i").cast("double") * F.col("n_j") / n
    return enriched.agg(
        F.round(
            F.sum(
                p_ij
                * F.log(
                    (F.col("n_ij") * F.col("n")).cast("double")
                    / (F.col("n_i") * F.col("n_j"))
                )
            ),
            6,
        ).alias("mutual_information"),
        F.round(
            F.sum((F.col("n_ij") - e_ij) * (F.col("n_ij") - e_ij) / e_ij),
            6,
        ).alias("chi2"),
        (
            (F.countDistinct("o_orderpriority") - 1)
            * (F.countDistinct("o_orderstatus") - 1)
        ).alias("dof"),
        F.round(
            F.sqrt(
                F.sum(
                    (F.col("n_ij") - e_ij) * (F.col("n_ij") - e_ij) / e_ij
                )
                / (
                    F.first(n)
                    * F.least(
                        F.countDistinct("o_orderpriority") - 1,
                        F.countDistinct("o_orderstatus") - 1,
                    )
                )
            ),
            6,
        ).alias("cramers_v"),
    )


_ASSOC_SQL = """
WITH cells AS (
  SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_ij
  FROM orders GROUP BY o_orderpriority, o_orderstatus
),
e AS (
  SELECT n_ij,
    SUM(n_ij) OVER (PARTITION BY o_orderpriority) AS n_i,
    SUM(n_ij) OVER (PARTITION BY o_orderstatus) AS n_j,
    SUM(n_ij) OVER () AS n,
    o_orderpriority, o_orderstatus
  FROM cells
)
SELECT
  ROUND(SUM((n_ij / CAST(n AS DOUBLE))
            * ln(CAST(n_ij * n AS DOUBLE) / (n_i * n_j))), 6)
    AS mutual_information,
  ROUND(SUM((n_ij - CAST(n_i AS DOUBLE) * n_j / n)
            * (n_ij - CAST(n_i AS DOUBLE) * n_j / n)
            / (CAST(n_i AS DOUBLE) * n_j / n)), 6) AS chi2,
  (COUNT(DISTINCT o_orderpriority) - 1)
    * (COUNT(DISTINCT o_orderstatus) - 1) AS dof,
  ROUND(sqrt(SUM((n_ij - CAST(n_i AS DOUBLE) * n_j / n)
                 * (n_ij - CAST(n_i AS DOUBLE) * n_j / n)
                 / (CAST(n_i AS DOUBLE) * n_j / n))
             / (ANY_VALUE(CAST(n AS DOUBLE))
                * LEAST(COUNT(DISTINCT o_orderpriority) - 1,
                        COUNT(DISTINCT o_orderstatus) - 1))), 6)
    AS cramers_v
FROM e
"""

# ---------------------------------------------------------------------------
# Moving median window
# ---------------------------------------------------------------------------

MOVMED_FRAME = 7  #: trailing-rows frame width


def window_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user MOVING MEDIAN of event value over the trailing
    MOVMED_FRAME rows (total order ts, event_id) — the robust
    alternative to a moving average that outlier-laden telemetry
    needs; medians don't decompose into partial aggregates, so this is
    the canonical "holistic window function" stress.

    Spark rejects `median` with a window FRAME (holistic aggregates
    only support whole-partition windows), so the frame's values are
    gathered with `collect_list` over the frame — bounded at
    MOVMED_FRAME elements — and the interpolated middle (the even-count
    average DuckDB's `median` computes) is taken row-locally from the
    sorted array. Frames are evaluated under a TOTAL order — the
    tie-framing lesson from the session-window oracles applied here
    from the start.

    Scale: one user_id-keyed window pass; frame state is
    MOVMED_FRAME values per row, independent of history length.
    """
    ev = load_table(spark, sf_dir, "events")
    frame = (
        f"collect_list(value) OVER (PARTITION BY user_id"
        f" ORDER BY ts, event_id"
        f" ROWS BETWEEN {MOVMED_FRAME - 1} PRECEDING AND CURRENT ROW)"
    )
    med = (
        "CASE WHEN size(fv) % 2 = 1"
        " THEN element_at(array_sort(fv), CAST((size(fv) + 1) / 2 AS INT))"
        " ELSE (element_at(array_sort(fv), CAST(size(fv) / 2 AS INT))"
        "       + element_at(array_sort(fv), CAST(size(fv) / 2 AS INT) + 1))"
        "      / 2.0"
        " END"
    )
    return (
        ev.select(
            "user_id",
            "event_id",
            F.expr(frame).alias("fv"),
        )
        .select(
            "user_id",
            "event_id",
            F.round(F.expr(med), 6).alias("moving_median"),
        )
        .orderBy("user_id", "event_id")
    )


_MOVMED_SQL = f"""
SELECT user_id, event_id,
  ROUND(median(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN {MOVMED_FRAME - 1} PRECEDING AND CURRENT ROW), 6)
    AS moving_median
FROM events
ORDER BY user_id, event_id
"""

# ---------------------------------------------------------------------------
# Pareto 80/20 contribution
# ---------------------------------------------------------------------------

PARETO_SHARE = 0.8  #: cumulative-share cutoff


def pareto_contribution_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contribution / ABC analysis: revenue share by part brand,
    ranked descending, with cumulative share and the 80/20 flag — a
    brand is "core" while the cumulative share BEFORE it is under
    PARETO_SHARE (so the flagged set is the minimal prefix covering
    80 % of revenue).

    Scale: the corpus-sized work is one lineitem→part equi-join (part
    broadcastable) plus one brand rollup; ranking and the running
    share are windows over the brand-sized table.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = (
        li.join(F.broadcast(part.select("p_partkey", "p_brand")),
                li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                  scale=6, precision=28).alias("revenue"))
    )
    w_ord = W.orderBy(F.desc("revenue"), "p_brand")
    w_cum = w_ord.rowsBetween(W.unboundedPreceding, 0)
    w_prev = w_ord.rowsBetween(W.unboundedPreceding, -1)
    total = F.sum("revenue").over(W.partitionBy())
    return rev.select(
        "p_brand",
        F.round("revenue", 4).alias("revenue"),
        F.round(F.col("revenue") / total, 6).alias("share"),
        F.round(F.sum("revenue").over(w_cum) / total, 6).alias("cum_share"),
        (
            F.coalesce(F.sum("revenue").over(w_prev), F.lit(0.0)) / total
            < PARETO_SHARE
        ).alias("core_80pct"),
    ).orderBy(F.desc("revenue"), "p_brand")


_PARETO_SQL = f"""
WITH rev AS (
  SELECT p.p_brand,
    CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                  AS DECIMAL(28,6))) AS DOUBLE) AS revenue
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_brand
)
SELECT p_brand,
  ROUND(revenue, 4) AS revenue,
  ROUND(revenue / SUM(revenue) OVER (), 6) AS share,
  ROUND(SUM(revenue) OVER (ORDER BY revenue DESC, p_brand
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        / SUM(revenue) OVER (), 6) AS cum_share,
  COALESCE(SUM(revenue) OVER (ORDER BY revenue DESC, p_brand
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
    / SUM(revenue) OVER () < {PARETO_SHARE} AS core_80pct
FROM rev
ORDER BY revenue DESC, p_brand
"""

# ---------------------------------------------------------------------------
# Positional phrase search
# ---------------------------------------------------------------------------


def phrase_search_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search via a POSITIONAL inverted index — the
    search-engine primitive: tokenize to (doc, position, word), pick
    the corpus's most frequent word bigram as the query phrase
    (self-contained and deterministic at every scale: count DESC,
    bigram ASC), and match by joining the index to itself on
    (doc, word₂ at position+1).

    Scale: the index build is row-local posexplode; the phrase is a
    one-row broadcast; the positional join is doc_id+word-keyed with
    each side pre-filtered to ONE word — candidate lists the size of
    those words' postings, the same shape Lucene evaluates phrases
    with. Never a scan-per-query.
    """
    docs = load_table(spark, sf_dir, "documents")
    idx = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "w"),
    )
    bigrams = docs.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(split(text, ' ')) - 1),"
                " i -> concat(element_at(split(text, ' '), i), ' ',"
                " element_at(split(text, ' '), i + 1)))"
            )
        ).alias("bg")
    )
    phrase = (
        bigrams.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "bg")
        .limit(1)
        .select(
            F.split_part("bg", F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part("bg", F.lit(" "), F.lit(2)).alias("w2"),
            F.col("bg").alias("phrase"),
        )
    )
    a = idx.join(F.broadcast(phrase), idx.w == F.col("w1")).select(
        "doc_id", "pos", "phrase", "w2"
    )
    b = idx.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("pos").alias("pos_b"),
        F.col("w").alias("w_b"),
    )
    hits = a.join(
        b,
        (F.col("doc_id") == F.col("doc_id_b"))
        & (F.col("pos_b") == F.col("pos") + 1)
        & (F.col("w_b") == F.col("w2")),
    )
    return (
        hits.groupBy("doc_id", "phrase")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.min("pos").alias("first_pos"),
        )
        .orderBy("doc_id")
    )


_PHRASE_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
bg AS (
  SELECT unnest([ws[i] || ' ' || ws[i + 1] FOR i IN range(1, len(ws))]) AS bg
  FROM w
),
phrase AS (
  SELECT bg AS phrase, string_split(bg, ' ')[1] AS w1,
         string_split(bg, ' ')[2] AS w2
  FROM (SELECT bg, COUNT(*) AS c FROM bg GROUP BY bg
        ORDER BY c DESC, bg LIMIT 1)
),
hits AS (
  SELECT w.doc_id, p.phrase, unnest(
    [i FOR i IN range(1, len(w.ws)) IF w.ws[i] = p.w1 AND w.ws[i+1] = p.w2]
  ) AS pos
  FROM w CROSS JOIN phrase p
)
SELECT doc_id, phrase, COUNT(*) AS n_hits, MIN(pos) - 1 AS first_pos
FROM hits GROUP BY doc_id, phrase ORDER BY doc_id
"""

# ---------------------------------------------------------------------------
# Frequent-values column profile
# ---------------------------------------------------------------------------

PROFILE_TOP_K = 3  #: values kept per profiled column


def profile_frequent_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-values profiling (the companion to `profile_columns`):
    for each profiled categorical column, the PROFILE_TOP_K most
    frequent values with count and share — what catalog tools surface
    as a column's "top values" chip.

    Scale: the profiled columns are unpivoted into (col_name, value)
    pairs in ONE scan (stack — Catalyst's expand, same as the
    multi-distinct profile), the rollup is (column × value)-sized, and
    the top-k ranking windows run per col_name over that rollup.
    """
    orders = load_table(spark, sf_dir, "orders")
    pairs = orders.select(
        F.expr(
            "stack(2,"
            " 'o_orderstatus', o_orderstatus,"
            " 'o_orderpriority', o_orderpriority"
            ") as (col_name, val)"
        )
    )
    counts = pairs.groupBy("col_name", "val").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_rank = W.partitionBy("col_name").orderBy(F.desc("n"), "val")
    w_tot = W.partitionBy("col_name")
    return (
        counts.select(
            "col_name",
            "val",
            "n",
            F.row_number().over(w_rank).alias("rk"),
            F.round(
                F.col("n").cast("double") / F.sum("n").over(w_tot), 6
            ).alias("share"),
        )
        .filter(F.col("rk") <= PROFILE_TOP_K)
        .orderBy("col_name", "rk")
    )


_FREQVAL_SQL = f"""
WITH pairs AS (
  SELECT 'o_orderstatus' AS col_name, o_orderstatus AS val FROM orders
  UNION ALL
  SELECT 'o_orderpriority', o_orderpriority FROM orders
),
counts AS (SELECT col_name, val, COUNT(*) AS n FROM pairs GROUP BY col_name, val)
SELECT col_name, val, n,
  row_number() OVER (PARTITION BY col_name ORDER BY n DESC, val) AS rk,
  ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY col_name), 6) AS share
FROM counts
QUALIFY rk <= {PROFILE_TOP_K}
ORDER BY col_name, rk
"""


# ---------------------------------------------------------------------------
# Simple OLS regression per group
# ---------------------------------------------------------------------------

OLS_EPOCH = "2020-01-01"  #: x-axis anchor (days since)


def agg_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type simple OLS of value on time (days since
    OLS_EPOCH) — slope, intercept, and r², the regr_slope/
    regr_intercept/regr_r2 family recomputed from EXACT decimal sums
    (n, Σx, Σy, Σxx, Σyy, Σxy) so the doubles are bit-reproducible
    across engines and partitionings (built-in regr_* fold doubles in
    partition order, like var_pop — same reasoning as
    `agg_stats_moments`, aggregates.py).

    Scale: one partial+final aggregate scan; the regression algebra is
    row-local on the event-type-sized rollup.
    """
    ev = load_table(spark, sf_dir, "events")
    x = F.datediff(F.col("ts"), F.lit(OLS_EPOCH).cast("date")).cast("double")
    y = F.col("value")

    def d28(c, scale=8):
        return dsum(c, scale, precision=28)

    base = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        d28(x, 4).alias("sx"),
        d28(y, 4).alias("sy"),
        d28(x * x).alias("sxx"),
        d28(y * y).alias("syy"),
        d28(x * y).alias("sxy"),
    )
    n = F.col("n")
    cov_n = n * F.col("sxy") - F.col("sx") * F.col("sy")
    varx_n = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vary_n = n * F.col("syy") - F.col("sy") * F.col("sy")
    slope = cov_n / varx_n
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    r2 = cov_n * cov_n / (varx_n * vary_n)
    return base.select(
        "event_type",
        n.cast("long").alias("n_rows"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    ).orderBy("event_type")


_OLS_SQL = f"""
WITH base AS (
  SELECT event_type,
    CAST(COUNT(*) AS DOUBLE) AS n,
    CAST(SUM(CAST(datediff('day', DATE '{OLS_EPOCH}', ts)
                  AS DECIMAL(28,4))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(datediff('day', DATE '{OLS_EPOCH}', ts)
                  * datediff('day', DATE '{OLS_EPOCH}', ts)
                  AS DECIMAL(28,8))) AS DOUBLE) AS sxx,
    CAST(SUM(CAST(value * value AS DECIMAL(28,8))) AS DOUBLE) AS syy,
    CAST(SUM(CAST(datediff('day', DATE '{OLS_EPOCH}', ts) * value
                  AS DECIMAL(28,8))) AS DOUBLE) AS sxy
  FROM events GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n_rows,
  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
  ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
    AS intercept,
  ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
        / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM base ORDER BY event_type
"""

# ---------------------------------------------------------------------------
# Moving distinct count window
# ---------------------------------------------------------------------------


def window_moving_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user DISTINCT event-type count over the trailing
    MOVMED_FRAME rows — the second holistic window in the family
    (`window_moving_median` carries the interpolating one): engagement
    breadth over a recent-activity frame.

    Spark evaluates `collect_set` over window frames (the holistic
    restriction hits interpolating aggregates like median, not set
    collection); DuckDB runs COUNT(DISTINCT) OVER the same frame.
    Total (ts, event_id) frame order, as everywhere.

    Scale: one user_id-keyed window pass, frame state bounded at
    MOVMED_FRAME values per row.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "user_id",
        "event_id",
        F.size(
            F.expr(
                f"collect_set(event_type) OVER (PARTITION BY user_id"
                f" ORDER BY ts, event_id"
                f" ROWS BETWEEN {MOVMED_FRAME - 1} PRECEDING AND CURRENT ROW)"
            )
        ).cast("long").alias("n_distinct_types"),
    ).orderBy("user_id", "event_id")


_MOVDIST_SQL = f"""
SELECT user_id, event_id,
  COUNT(DISTINCT event_type) OVER (PARTITION BY user_id
    ORDER BY ts, event_id
    ROWS BETWEEN {MOVMED_FRAME - 1} PRECEDING AND CURRENT ROW)
    AS n_distinct_types
FROM events
ORDER BY user_id, event_id
"""

# ---------------------------------------------------------------------------
# OOV rate against a capped vocabulary
# ---------------------------------------------------------------------------

OOV_VOCAB_K = 100  #: vocabulary size (top-K words by document frequency)


def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document out-of-vocabulary TOKEN rate against the corpus's
    top-OOV_VOCAB_K words (document frequency DESC, word ASC — a total
    order): the tokenizer-coverage check run before committing a vocab
    size, counted over token OCCURRENCES (not distinct words) because
    that is what the model actually sees.

    Scale: vocabulary selection windows over the vocabulary-sized df
    table; the vocab broadcasts; the per-doc rate is one exploded scan
    + doc_id rollup.
    """
    docs = load_table(spark, sf_dir, "documents")
    dw = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("w"),
    )
    vocab = (
        dw.groupBy("w")
        .agg(F.count(F.lit(1)).alias("df"))
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy(F.lit(1)).orderBy(F.desc("df"), "w")
            ),
        )
        .filter(F.col("rk") <= OOV_VOCAB_K)
        .select("w", F.lit(True).alias("in_vocab"))
    )
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    return (
        toks.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("in_vocab").isNull().cast("long")).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.round(
                F.col("n_oov").cast("double") / F.col("n_tokens"), 6
            ).alias("oov_rate"),
        )
        .orderBy("doc_id")
    )


_OOV_SQL = f"""
WITH dw AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents),
vocab AS (
  SELECT w FROM (
    SELECT w, row_number() OVER (ORDER BY COUNT(*) DESC, w) AS rk
    FROM dw GROUP BY w
  ) WHERE rk <= {OOV_VOCAB_K}
),
toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
SELECT t.doc_id, COUNT(*) AS n_tokens,
  CAST(SUM(CAST(v.w IS NULL AS BIGINT)) AS BIGINT) AS n_oov,
  ROUND(SUM(CAST(v.w IS NULL AS DOUBLE)) / COUNT(*), 6) AS oov_rate
FROM toks t LEFT JOIN vocab v ON t.w = v.w
GROUP BY t.doc_id
ORDER BY t.doc_id
"""

# ---------------------------------------------------------------------------
# Training-mixture sampling plan
# ---------------------------------------------------------------------------


def mixture_sampling_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data mixture planning (the Pile/Dolma recipe step):
    given per-source token counts and target mixture weights (uniform
    here), compute the LARGEST total token budget achievable without
    upsampling any source — B = min_i(tokens_i / w_i) — and each
    source's sampled tokens (w_i·B) and sampling rate. The arithmetic
    every mixture config file encodes, derived inside the engine from
    the corpus itself.

    Scale: one whitespace-token rollup per source (the only
    corpus-sized stage); the plan algebra runs on the source-sized
    table with the budget as a one-row broadcast.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).alias("tokens")
    )
    k = per_src.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
    )
    with_w = per_src.join(F.broadcast(k)).select(
        "source",
        "tokens",
        (F.lit(1.0) / F.col("k")).alias("weight"),
    )
    budget = with_w.agg(
        F.min(F.col("tokens") / F.col("weight")).alias("budget")
    )
    return (
        with_w.join(F.broadcast(budget))
        .select(
            "source",
            "tokens",
            F.round("weight", 6).alias("weight"),
            F.round(F.col("weight") * F.col("budget"), 2).alias(
                "sampled_tokens"
            ),
            F.round(
                F.col("weight") * F.col("budget") / F.col("tokens"), 6
            ).alias("sampling_rate"),
        )
        .orderBy("source")
    )


_MIXTURE_SQL = """
WITH per_src AS (
  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
  FROM documents GROUP BY source
),
w AS (
  SELECT source, tokens,
    1.0 / (SELECT CAST(COUNT(*) AS DOUBLE) FROM per_src) AS weight
  FROM per_src
),
b AS (SELECT MIN(tokens / weight) AS budget FROM w)
SELECT source, tokens, ROUND(weight, 6) AS weight,
  ROUND(weight * budget, 2) AS sampled_tokens,
  ROUND(weight * budget / tokens, 6) AS sampling_rate
FROM w, b
ORDER BY source
"""

# ---------------------------------------------------------------------------
# Kneser-Ney interpolated bigram LM
# ---------------------------------------------------------------------------

KN_DISCOUNT = 0.75  #: absolute discount D


def bigram_lm_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (Kneser & Ney 1995;
    Chen & Goodman 1998) — the third LM in the engine's family
    (unigram MLE, Jelinek-Mercer bigram in `traindata2.py`): absolute
    discounting of the bigram count plus the CONTINUATION-probability
    backoff that made KN the standard n-gram smoother,
    P(w2|w1) = max(c12 − D, 0)/c1 + (D·N1+(w1,·)/c1) · N1+(·,w2)/B
    with B the distinct-bigram total.

    Scale: bigram extraction is row-local; every statistic (bigram
    counts, left/right continuation counts, the distinct-bigram total)
    is a vocabulary-sized rollup off ONE exploded scan; the final
    algebra is a three-way equi-join on words, each side
    vocabulary-sized.
    """
    docs = load_table(spark, sf_dir, "documents")
    bg = docs.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(split(text, ' ')) - 1),"
                " i -> struct(element_at(split(text, ' '), i) as w1,"
                " element_at(split(text, ' '), i + 1) as w2))"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").alias("c1"),
        F.count(F.lit(1)).alias("n1_fwd"),  # N1+(w1, ·)
    )
    cont = c12.groupBy("w2").agg(F.count(F.lit(1)).alias("n1_bwd"))  # N1+(·, w2)
    total = c12.agg(F.count(F.lit(1)).cast("double").alias("b_total"))
    d = F.lit(KN_DISCOUNT)
    p = (
        F.greatest(F.col("c12") - d, F.lit(0.0)) / F.col("c1")
        + (d * F.col("n1_fwd") / F.col("c1"))
        * (F.col("n1_bwd") / F.col("b_total"))
    )
    return (
        c12.join(c1, "w1")
        .join(cont, "w2")
        .join(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "c12",
            F.round(p, 6).alias("p_kn"),
        )
        .orderBy("w1", "w2")
    )


_KN_SQL = f"""
WITH bg AS (
  SELECT string_split(text, ' ')[i] AS w1, string_split(text, ' ')[i + 1] AS w2
  FROM (SELECT text, unnest(range(1, len(string_split(text, ' ')))) AS i
        FROM documents)
),
c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1_fwd FROM c12 GROUP BY w1),
cont AS (SELECT w2, COUNT(*) AS n1_bwd FROM c12 GROUP BY w2),
total AS (SELECT CAST(COUNT(*) AS DOUBLE) AS b_total FROM c12)
SELECT c12.w1, c12.w2, c12.c12,
  ROUND(GREATEST(c12.c12 - {KN_DISCOUNT}, 0.0) / c1.c1
        + ({KN_DISCOUNT} * c1.n1_fwd / c1.c1) * (cont.n1_bwd / total.b_total),
        6) AS p_kn
FROM c12 JOIN c1 USING (w1) JOIN cont USING (w2) CROSS JOIN total
ORDER BY w1, w2
"""


# ---------------------------------------------------------------------------
# Last-touch conversion attribution
# ---------------------------------------------------------------------------

ATTR_WINDOW_DAYS = 7  #: lookback window for a touch to get credit


def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution: every 'purchase' event is
    credited to the user's most recent preceding touch ('click' or
    'view') within ATTR_WINDOW_DAYS, else 'direct' — the marketing
    rollup every attribution pipeline starts from, then aggregated to
    (touch channel → conversions, share).

    Scale: ONE user_id-keyed window pass (last-touch-before is a
    frame-bounded last_value IGNORE NULLS under the total (ts,
    event_id) order); the channel rollup is touch-cardinality-sized.
    """
    ev = load_table(spark, sf_dir, "events")
    w_prev = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, -1
    )
    is_touch = F.col("event_type").isin("click", "view")
    touch_ts = F.last(
        F.when(is_touch, F.col("ts")), ignorenulls=True
    ).over(w_prev)
    touch_type = F.last(
        F.when(is_touch, F.col("event_type")), ignorenulls=True
    ).over(w_prev)
    conv = (
        ev.select(
            "user_id",
            "event_id",
            "ts",
            "event_type",
            touch_ts.alias("t_ts"),
            touch_type.alias("t_type"),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            F.when(
                F.col("t_ts").isNotNull()
                & (
                    F.datediff(F.col("ts"), F.col("t_ts"))
                    <= ATTR_WINDOW_DAYS
                ),
                F.col("t_type"),
            )
            .otherwise(F.lit("direct"))
            .alias("channel"),
        )
    )
    tot = W.partitionBy()
    return (
        conv.groupBy("channel")
        .agg(F.count(F.lit(1)).alias("conversions"))
        .select(
            "channel",
            "conversions",
            F.round(
                F.col("conversions").cast("double")
                / F.sum("conversions").over(tot),
                6,
            ).alias("share"),
        )
        .orderBy("channel")
    )


_ATTR_SQL = f"""
WITH marked AS (
  SELECT user_id, event_id, ts, event_type,
    last_value(CASE WHEN event_type IN ('click', 'view') THEN ts END
               IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY ts, event_id
       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS t_ts,
    last_value(CASE WHEN event_type IN ('click', 'view') THEN event_type END
               IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY ts, event_id
       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS t_type
  FROM events
),
conv AS (
  SELECT CASE WHEN t_ts IS NOT NULL
              AND datediff('day', t_ts, ts) <= {ATTR_WINDOW_DAYS}
         THEN t_type ELSE 'direct' END AS channel
  FROM marked WHERE event_type = 'purchase'
)
SELECT channel, COUNT(*) AS conversions,
  ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER (), 6) AS share
FROM conv GROUP BY channel ORDER BY channel
"""


# ---------------------------------------------------------------------------
# Exact per-group mode
# ---------------------------------------------------------------------------


def agg_exact_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact MODE per group (modal order priority within each status)
    with count and share — computed explicitly as count-rollup +
    rank-1 under the total order (count DESC, value ASC) instead of a
    built-in `mode()`, because built-in modes leave ties
    engine-defined (DuckDB documents "first encountered", Spark 4's
    mode() is arbitrary on ties) and a gate needs determinism.

    Scale: one contingency rollup (status × priority cells), then a
    rank window over the cell table.
    """
    orders = load_table(spark, sf_dir, "orders")
    cells = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_rank = W.partitionBy("o_orderstatus").orderBy(
        F.desc("n"), "o_orderpriority"
    )
    w_tot = W.partitionBy("o_orderstatus")
    return (
        cells.select(
            "o_orderstatus",
            "o_orderpriority",
            "n",
            F.row_number().over(w_rank).alias("rk"),
            F.round(
                F.col("n").cast("double") / F.sum("n").over(w_tot), 6
            ).alias("share"),
        )
        .filter(F.col("rk") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("modal_priority"),
            "n",
            "share",
        )
        .orderBy("o_orderstatus")
    )


_MODE_SQL = """
WITH cells AS (
  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
  FROM orders GROUP BY o_orderstatus, o_orderpriority
),
ranked AS (
  SELECT o_orderstatus, o_orderpriority, n,
    row_number() OVER (PARTITION BY o_orderstatus
                       ORDER BY n DESC, o_orderpriority) AS rk,
    ROUND(CAST(n AS DOUBLE)
          / SUM(n) OVER (PARTITION BY o_orderstatus), 6) AS share
  FROM cells
)
SELECT o_orderstatus, o_orderpriority AS modal_priority, n, share
FROM ranked WHERE rk = 1 ORDER BY o_orderstatus
"""

# ---------------------------------------------------------------------------
# Stratified k-fold assignment
# ---------------------------------------------------------------------------

KFOLD_K = 5  #: folds


def split_kfold_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-stratified k-fold assignment: within each stratum
    (document language) docs are ordered by a deterministic md5 rank
    (engine-identical, no rand()) and dealt round-robin into KFOLD_K
    folds — so every (stratum, fold) count is within 1 of perfect
    balance BY CONSTRUCTION, which the expectation-only hash split
    (`split_train_val_test`) cannot guarantee. Emits the
    (lang, fold) rollup with counts and id checksums.

    Scale: one row_number window per stratum (lang-partitioned — the
    shuffle key is the stratum, parallel across strata); everything
    downstream is fold-table-sized. The md5 rank reuses the engine's
    one cross-engine hash construction.
    """
    docs = load_table(spark, sf_dir, "documents")
    rk = F.row_number().over(
        W.partitionBy("lang").orderBy(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("/kfold"))),
            "doc_id",
        )
    )
    return (
        docs.select(
            "lang",
            "doc_id",
            ((rk - 1) % KFOLD_K).alias("fold"),
        )
        .groupBy("lang", "fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
        .orderBy("lang", "fold")
    )


_KFOLD_SQL = f"""
WITH ranked AS (
  SELECT lang, doc_id,
    (row_number() OVER (PARTITION BY lang
       ORDER BY md5(CAST(doc_id AS VARCHAR) || '/kfold'), doc_id) - 1)
      % {KFOLD_K} AS fold
  FROM documents
)
SELECT lang, fold, COUNT(*) AS n_docs,
  CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM ranked GROUP BY lang, fold ORDER BY lang, fold
"""

# ---------------------------------------------------------------------------
# Benford first-digit audit
# ---------------------------------------------------------------------------


def dq_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the fraud/
    data-entry screen auditors run on monetary columns: observed
    first-significant-digit shares vs Benford's log10(1 + 1/d), with
    each digit's χ² contribution and the cumulative statistic.

    First digit = floor(x / 10^floor(log10(x))) for x ≥ 1 — pure
    arithmetic, no string rendering (engines disagree on double
    formatting, they agree on log10/floor).

    Scale: one aggregate scan to the 9-row digit table; everything
    else is windows over those 9 rows.
    """
    orders = load_table(spark, sf_dir, "orders")
    x = F.col("o_totalprice")
    digit = F.floor(
        x / F.pow(F.lit(10.0), F.floor(F.log10(x)))
    ).cast("int")
    counts = (
        orders.filter(x >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = W.partitionBy()
    total = F.sum("n").over(w).cast("double")
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    chi2_term = (
        (F.col("n") / total - expected)
        * (F.col("n") / total - expected)
        / expected
        * total
    )
    return counts.select(
        "digit",
        "n",
        F.round(F.col("n") / total, 6).alias("observed_share"),
        F.round(expected, 6).alias("benford_share"),
        F.round(chi2_term, 6).alias("chi2_term"),
        F.round(F.sum(chi2_term).over(w), 6).alias("chi2_total"),
    ).orderBy("digit")


_BENFORD_SQL = """
WITH counts AS (
  SELECT CAST(FLOOR(o_totalprice
               / POW(10.0, FLOOR(LOG10(o_totalprice)))) AS INT) AS digit,
    COUNT(*) AS n
  FROM orders WHERE o_totalprice >= 1
  GROUP BY 1
),
e AS (
  SELECT digit, n,
    CAST(SUM(n) OVER () AS DOUBLE) AS total,
    LOG10(1.0 + 1.0 / digit) AS expected
  FROM counts
)
SELECT digit, n,
  ROUND(n / total, 6) AS observed_share,
  ROUND(expected, 6) AS benford_share,
  ROUND((n / total - expected) * (n / total - expected) / expected * total, 6)
    AS chi2_term,
  ROUND(SUM((n / total - expected) * (n / total - expected) / expected * total)
        OVER (), 6) AS chi2_total
FROM e ORDER BY digit
"""


# ---------------------------------------------------------------------------
# Time-decay weighted value (recency-weighted LTV)
# ---------------------------------------------------------------------------

LTV_HALF_LIFE_DAYS = 30.0  #: decay half-life


def ltv_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted lifetime value: per user,
    Σ value·2^(−age_days/half_life) with age measured from the corpus
    horizon — the decayed engagement score CRM and ranking systems
    maintain, computed in one pass (the decay weight is row-local
    arithmetic; no ordered fold needed because the sum is
    order-independent).

    Determinism note: the weighted sum accumulates DOUBLES, so
    partition order matters at the ulp level — the sum is made
    engine-stable the same way the moment sums are, by rounding each
    term to a fixed decimal grid (cents of weighted value) before
    the decimal-exact accumulation.

    Scale: one user_id-keyed aggregate; the horizon is a one-row
    broadcast.
    """
    ev = load_table(spark, sf_dir, "events")
    horizon = ev.agg(F.max("ts").alias("h"))
    age = F.datediff(F.col("h"), F.col("ts")).cast("double")
    w = F.pow(F.lit(2.0), -age / F.lit(LTV_HALF_LIFE_DAYS))
    term = F.round(F.col("value") * w, 6)
    # presentation rounding happens in the DECIMAL domain (exact
    # HALF_UP) BEFORE the double cast: rounding the cast double
    # instead hits representation ties — a 6-dp decimal landing on a
    # .xxxx5 boundary rounded differently in the two engines (sf1
    # probe: 6/1500 rows off by 1 in the 4th decimal)
    return (
        ev.join(F.broadcast(horizon))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(term.cast("decimal(28,6)")), 4)
            .cast("double")
            .alias("decayed_value"),
        )
        .orderBy("user_id")
    )


_LTV_SQL = f"""
WITH h AS (SELECT MAX(ts) AS h FROM events)
SELECT user_id, COUNT(*) AS n_events,
  CAST(ROUND(SUM(CAST(ROUND(value * POW(2.0,
      -CAST(datediff('day', ts, (SELECT h FROM h)) AS DOUBLE)
      / {LTV_HALF_LIFE_DAYS}), 6) AS DECIMAL(28,6))), 4) AS DOUBLE)
    AS decayed_value
FROM events GROUP BY user_id ORDER BY user_id
"""

# ---------------------------------------------------------------------------
# Rolling z-score anomaly flags
# ---------------------------------------------------------------------------

ZSCORE_FRAME = 20  #: trailing window (rows)
ZSCORE_CRIT = 3.0  #: |z| flag threshold


def timeseries_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: each event's value scored
    against the mean/stddev of the PRECEDING ZSCORE_FRAME rows (the
    point itself excluded — self-inclusion dilutes the very outlier
    being tested), flagging |z| > 3 — the standard online telemetry
    monitor.

    Mean/variance over the frame come from exact decimal Σx/Σx²
    (count/sum over a frame are frame-bounded, engine-exact); rows
    with fewer than 3 predecessors emit NULL z (variance undefined).

    Scale: one user_id-keyed window pass; frame state is two decimal
    accumulators, independent of history length.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-ZSCORE_FRAME, -1)
    )
    x = F.col("value")
    n = F.count(x).over(w).cast("double")
    sx = F.sum(x.cast("decimal(28,4)")).over(w).cast("double")
    sxx = F.sum((x * x).cast("decimal(28,8)")).over(w).cast("double")
    mean = sx / n
    var = (n * sxx - sx * sx) / (n * (n - 1))
    # Guard BOTH degenerate-variance regimes: exactly zero (Spark
    # renders x/0.0 as NULL, DuckDB as ±inf) and near-zero relative to
    # the magnitude of the cancelled terms — n·sxx − sx² loses ~16
    # digits to cancellation on a near-constant frame, the resulting
    # z blows up to ~1e9, and ROUND(z, 6) then needs integers near
    # 2^53 where the engines' rounding diverges by an ulp (caught by
    # the sf1 probe: 4/1M rows). A z from variance 1e-9 of the
    # moment magnitude is numerical noise, not a measurement — NULL
    # it on both sides with the identical relative test.
    meaningful = (n * sxx - sx * sx) > F.lit(1e-9) * n * sxx
    z = F.when((n >= 3) & meaningful, (x - mean) / F.sqrt(var))
    return ev.select(
        "user_id",
        "event_id",
        F.round(z, 6).alias("zscore"),
        # anomaly is NON-NULL boolean: an undefined z (cold start /
        # constant frame) cannot be flagged — and a nullable boolean
        # column round-trips differently through the two engines'
        # pandas bridges (object-of-None vs BooleanDtype), breaking
        # the canonical sort
        F.coalesce(F.abs(z) > ZSCORE_CRIT, F.lit(False)).alias("anomaly"),
    ).orderBy("user_id", "event_id")


_ZSCORE_SQL = f"""
WITH m AS (
  SELECT user_id, event_id, value,
    CAST(COUNT(value) OVER w AS DOUBLE) AS n,
    CAST(SUM(CAST(value AS DECIMAL(28,4))) OVER w AS DOUBLE) AS sx,
    CAST(SUM(CAST(value * value AS DECIMAL(28,8))) OVER w AS DOUBLE) AS sxx
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {ZSCORE_FRAME} PRECEDING AND 1 PRECEDING)
)
SELECT user_id, event_id,
  ROUND(CASE WHEN n >= 3 AND (n * sxx - sx * sx) > 1e-9 * n * sxx
        THEN (value - sx / n)
             / sqrt((n * sxx - sx * sx) / (n * (n - 1))) END, 6) AS zscore,
  COALESCE(CASE WHEN n >= 3 AND (n * sxx - sx * sx) > 1e-9 * n * sxx
       THEN abs((value - sx / n)
                / sqrt((n * sxx - sx * sx) / (n * (n - 1)))) > {ZSCORE_CRIT}
       END, FALSE) AS anomaly
FROM m ORDER BY user_id, event_id
"""

# ---------------------------------------------------------------------------
# Market-basket association rules
# ---------------------------------------------------------------------------

BASKET_MAX_PART = 200  #: bound the itemset universe (same as triangles)
BASKET_MIN_SUPPORT = 3  #: minimum co-occurrence count


def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining (the Apriori readout at
    2-itemsets): for part pairs co-occurring in ≥ BASKET_MIN_SUPPORT
    orders, support, directed confidence P(B|A), and lift
    P(A,B)/(P(A)·P(B)) — the co-purchase recommender baseline.

    The itemset universe is bounded to parts < BASKET_MAX_PART (the
    same bound the triangle-count gate uses), so per-order fan-out is
    capped; pairs come from a basket-keyed self-join of distinct
    (order, part) rows, support counts from one rollup, and the
    directed rules from a broadcast join against per-part counts.

    Scale: candidate generation is an equi-join on l_orderkey with
    bounded fan-out per basket; marginal counts are part-cardinality-
    sized and broadcast; the total-basket count is a one-row
    broadcast.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") < BASKET_MAX_PART
    )
    op = li.select("l_orderkey", "l_partkey").distinct()
    n_baskets = (
        load_table(spark, sf_dir, "lineitem")
        .agg(F.countDistinct("l_orderkey").alias("n_baskets"))
    )
    part_cnt = op.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_part")
    )
    a = op.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = op.select("l_orderkey", F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= BASKET_MIN_SUPPORT)
    )
    ca = part_cnt.select(
        F.col("l_partkey").alias("pa"), F.col("n_part").alias("n_a")
    )
    cb = part_cnt.select(
        F.col("l_partkey").alias("pb"), F.col("n_part").alias("n_b")
    )
    enriched = (
        pairs.join(F.broadcast(ca), "pa")
        .join(F.broadcast(cb), "pb")
        .join(F.broadcast(n_baskets))
    )
    nb = F.col("n_baskets").cast("double")
    return enriched.select(
        "pa",
        "pb",
        "n_both",
        F.round(F.col("n_both") / nb, 6).alias("support"),
        F.round(
            F.col("n_both").cast("double") / F.col("n_a"), 6
        ).alias("conf_a_to_b"),
        F.round(
            F.col("n_both").cast("double") / F.col("n_b"), 6
        ).alias("conf_b_to_a"),
        F.round(
            (F.col("n_both") * F.col("n_baskets")).cast("double")
            / (F.col("n_a") * F.col("n_b")),
            6,
        ).alias("lift"),
    ).orderBy("pa", "pb")


_BASKET_SQL = f"""
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  WHERE l_partkey < {BASKET_MAX_PART}
),
nb AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM lineitem),
pc AS (SELECT l_partkey, COUNT(*) AS n_part FROM op GROUP BY l_partkey),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS n_both
  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                      AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {BASKET_MIN_SUPPORT}
)
SELECT pa, pb, n_both,
  ROUND(n_both / CAST(nb.n_baskets AS DOUBLE), 6) AS support,
  ROUND(CAST(n_both AS DOUBLE) / ca.n_part, 6) AS conf_a_to_b,
  ROUND(CAST(n_both AS DOUBLE) / cb.n_part, 6) AS conf_b_to_a,
  ROUND(CAST(n_both * nb.n_baskets AS DOUBLE) / (ca.n_part * cb.n_part), 6)
    AS lift
FROM pairs
JOIN pc ca ON ca.l_partkey = pairs.pa
JOIN pc cb ON cb.l_partkey = pairs.pb
CROSS JOIN nb
ORDER BY pa, pb
"""


# ---------------------------------------------------------------------------
# Holt linear (double exponential) smoothing
# ---------------------------------------------------------------------------

HOLT_ALPHA = 0.3  #: level smoothing
HOLT_BETA = 0.1  #: trend smoothing


def timeseries_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend (double exponential) smoothing per user —
    the next step after `timeseries_ewma` in the classical smoothing
    family: level l = αx + (1−α)(l+b), trend b = β(l−l_prev) + (1−β)b,
    initialized l = x₂, b = x₂ − x₁, folded over the remaining history
    under the total (ts, event_id) order; emits the final state and
    the one-step forecast l + b. Users with a single event carry no
    trend and are excluded (documented; they'd need a different
    initializer).

    Same scalable shape as the EWMA: one shuffle to the key, then a
    row-local ordered fold. Cross-engine state-struct discipline: BOTH
    engines' lambdas read every field from the OLD accumulator here
    (measured — a one-step probe of this exact struct shape showed
    DuckDB did NOT rebind acc.l mid-struct, unlike the r9 CUSUM
    measurement; do not rely on rebinding either way), so both sides
    recompute new_l INLINE from old (l, b) inside the trend field —
    identical expression tree, identical IEEE doubles.
    """
    ev = load_table(spark, sf_dir, "events", rebalance=True)
    a, b_ = HOLT_ALPHA, HOLT_BETA
    new_l = f"({a} * x.value + {1 - a} * (acc.l + acc.b))"
    fold = (
        "aggregate(slice(h, 3, size(h) - 2),"
        " struct(cast(h[1].value as double) as l,"
        "        cast(h[1].value - h[0].value as double) as b),"
        f" (acc, x) -> struct({new_l} as l,"
        f" {b_} * ({new_l} - acc.l) + {1 - b_} * acc.b as b))"
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(
                "array_sort(collect_list(struct(ts, event_id, value)))"
            ).alias("h"),
        )
        .filter(F.col("n_events") >= 2)
        .select(
            "user_id",
            "n_events",
            F.round(F.expr(f"{fold}.l"), 6).alias("level"),
            F.round(F.expr(f"{fold}.b"), 6).alias("trend"),
            F.round(
                F.expr(f"{fold}.l") + F.expr(f"{fold}.b"), 6
            ).alias("forecast_1"),
        )
        .orderBy("user_id")
    )


def _holt_sql() -> str:
    a, b_ = HOLT_ALPHA, HOLT_BETA
    # NOT a list_reduce: DuckDB's struct-accumulator lambda semantics
    # are INCONSISTENT across applications (measured with one-step and
    # two-step probes of this exact shape: the FIRST application reads
    # all fields from the old accumulator, later applications REBIND
    # acc.<field> mid-struct). A mutually-dependent recurrence (new
    # trend needs both new level and old level) has no field order
    # that is correct under both behaviors — so the oracle folds via
    # a RECURSIVE CTE instead, where each step's state is a plain row
    # and evaluation order is unambiguous. Depth = max per-user
    # history, lockstep across users; the per-step join back to g
    # keeps recursion rows state-sized (no array carried).
    new_l = f"({a} * g.h[s.i + 1] + {1 - a} * (s.l + s.b))"
    return f"""
WITH RECURSIVE g AS (
  SELECT user_id, COUNT(*) AS n_events,
    array_agg(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS h
  FROM events GROUP BY user_id HAVING COUNT(*) >= 2
),
s(user_id, i, l, b) AS (
  SELECT user_id, 2, CAST(h[2] AS DOUBLE), CAST(h[2] - h[1] AS DOUBLE)
  FROM g
  UNION ALL
  SELECT s.user_id, s.i + 1, {new_l},
    {b_} * ({new_l} - s.l) + {1 - b_} * s.b
  FROM s JOIN g ON g.user_id = s.user_id
  WHERE s.i < g.n_events
)
SELECT g.user_id, g.n_events,
  ROUND(s.l, 6) AS level, ROUND(s.b, 6) AS trend,
  ROUND(s.l + s.b, 6) AS forecast_1
FROM s JOIN g ON g.user_id = s.user_id AND s.i = g.n_events
ORDER BY g.user_id
"""


# ---------------------------------------------------------------------------
# Decile lift / gains chart
# ---------------------------------------------------------------------------

LIFT_BINS = 10  #: score deciles


def model_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift / cumulative-gains readout — the standard scoring-
    model evaluation: users ranked by a score (total event value here,
    standing in for a model score) are cut into LIFT_BINS equi-depth
    bins via the banded exact-quantile thresholds (broadcast, row-local
    compare — never a global ntile single-task sort), and each bin
    reports its conversion rate ('purchase' users), the cumulative
    share of all converters captured from the top bin down, and lift
    over the base rate.

    Boundary rule matches the binning family (bin = 1 + Σ(score > t);
    tied scores share a bin, so bins are equi-depth up to tie mass —
    the documented threshold-binning trade, identical in the oracle).

    Scale: one user rollup (score + label in the same pass),
    thresholds from the bounded-memory quantile operator, and the
    gains windows run over the 10-row bin table.
    """
    from etl_gcp_function_tmabrasil_spark.operators.quantiles import (
        banded_exact_quantiles,
    )

    ev = load_table(spark, sf_dir, "events")
    users = managed_persist(
        ev.groupBy("user_id")
        .agg(
            dsum("value").alias("score"),
            F.max(
                (F.col("event_type") == "purchase").cast("int")
            ).alias("converted"),
        )
        .withColumn("g_all", F.lit("all")),
        "analytics.lift_users",
    )
    qmap = {
        f"t{i}": i / LIFT_BINS for i in range(1, LIFT_BINS)
    }
    th = banded_exact_quantiles(users, "g_all", "score", qmap)
    bin_expr = F.lit(1)
    for i in range(1, LIFT_BINS):
        bin_expr = bin_expr + (F.col("score") > F.col(f"t{i}")).cast("int")
    binned = users.join(F.broadcast(th.drop("g_all")), how="cross").select(
        "user_id", "converted", bin_expr.alias("decile")
    )
    per_bin = binned.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").alias("n_converted"),
    )
    w_all = W.partitionBy()
    w_cum = W.orderBy(F.desc("decile")).rowsBetween(
        W.unboundedPreceding, 0
    )
    base_rate = (
        F.sum("n_converted").over(w_all).cast("double")
        / F.sum("n_users").over(w_all)
    )
    return per_bin.select(
        "decile",
        "n_users",
        "n_converted",
        F.round(
            F.col("n_converted").cast("double") / F.col("n_users"), 6
        ).alias("conversion_rate"),
        F.round(
            F.sum("n_converted").over(w_cum).cast("double")
            / F.sum("n_converted").over(w_all),
            6,
        ).alias("cum_gain"),
        F.round(
            (F.col("n_converted").cast("double") / F.col("n_users"))
            / base_rate,
            6,
        ).alias("lift"),
    ).orderBy(F.desc("decile"))


def _lift_sql() -> str:
    qs = ", ".join(
        f"ROUND(quantile_cont(score, {i / LIFT_BINS}), 4) AS t{i}"
        for i in range(1, LIFT_BINS)
    )
    bins = " + ".join(
        f"CAST(u.score > t.t{i} AS INT)" for i in range(1, LIFT_BINS)
    )
    return f"""
WITH users AS (
  SELECT user_id,
    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS score,
    MAX(CAST(event_type = 'purchase' AS INT)) AS converted
  FROM events GROUP BY user_id
),
th AS (SELECT {qs} FROM users),
binned AS (
  SELECT u.user_id, u.converted, 1 + {bins} AS decile
  FROM users u CROSS JOIN th t
),
per_bin AS (
  SELECT decile, COUNT(*) AS n_users, SUM(converted) AS n_converted
  FROM binned GROUP BY decile
)
SELECT decile, n_users, CAST(n_converted AS BIGINT) AS n_converted,
  ROUND(CAST(n_converted AS DOUBLE) / n_users, 6) AS conversion_rate,
  ROUND(CAST(SUM(n_converted) OVER (ORDER BY decile DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        / SUM(n_converted) OVER (), 6) AS cum_gain,
  ROUND((CAST(n_converted AS DOUBLE) / n_users)
        / (CAST(SUM(n_converted) OVER () AS DOUBLE)
           / SUM(n_users) OVER ()), 6) AS lift
FROM per_bin
ORDER BY decile DESC
"""


# ---------------------------------------------------------------------------
# Longest daily-activity streak
# ---------------------------------------------------------------------------


def events_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest run of CONSECUTIVE active days per user — the classic
    gaps-and-islands application (the engagement "streak" metric):
    distinct active days, island key = day − row_number·1day (constant
    within a consecutive run), longest island per user.

    Scale: one user_id-keyed distinct + one window pass on the same
    partitioning; islands are per-user-days-sized, never event-sized.
    """
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).distinct()
    w = W.partitionBy("user_id").orderBy("d")
    islands = days.select(
        "user_id",
        "d",
        F.date_sub("d", F.row_number().over(w)).alias("island"),
    )
    runs = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("run_len"),
        day(F.min(F.col("d").cast("timestamp"))).alias("run_start"),
    )
    w_best = W.partitionBy("user_id").orderBy(
        F.desc("run_len"), "run_start"
    )
    return (
        runs.withColumn("rk", F.row_number().over(w_best))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("run_len").alias("longest_streak_days"),
            F.col("run_start").alias("streak_start"),
        )
        .orderBy("user_id")
    )


_STREAK_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
  FROM events
),
islands AS (
  SELECT user_id, d,
    d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
             AS INT) AS island
  FROM days
),
runs AS (
  SELECT user_id, island, COUNT(*) AS run_len,
    strftime(MIN(d), '%Y-%m-%d') AS run_start
  FROM islands GROUP BY user_id, island
)
SELECT user_id, run_len AS longest_streak_days, run_start AS streak_start
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
              ORDER BY run_len DESC, run_start) AS rk
  FROM runs
) WHERE rk = 1
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# Next-event training sequences
# ---------------------------------------------------------------------------

SEQ_CONTEXT = 3  #: context length (events)


def seq_next_event_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-model training-pair extraction: per user under the
    total (ts, event_id) order, every event with SEQ_CONTEXT full
    predecessors becomes a (context, label) example; the rollup counts
    each distinct (context, label) — the dataset builder behind
    next-action models, and the n-gram-style sufficient statistic for
    sequence models that don't need raw rows.

    Contexts are materialized with lag() columns (not a collected
    frame array) so the expression is engine-portable and the row
    stays fixed-width at any context length.

    Scale: ONE user_id-keyed window pass emits examples row-locally;
    the rollup is (event-type^(k+1))-sized — vocabulary-bounded, never
    corpus-sized.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    lags = [
        F.lag("event_type", i).over(w).alias(f"l{i}")
        for i in range(1, SEQ_CONTEXT + 1)
    ]
    ctx = F.concat_ws(
        ">", *[F.col(f"l{i}") for i in range(SEQ_CONTEXT, 0, -1)]
    )
    examples = (
        ev.select("event_type", *lags)
        .filter(F.col(f"l{SEQ_CONTEXT}").isNotNull())
        .select(ctx.alias("context"), F.col("event_type").alias("label"))
    )
    tot = W.partitionBy("context")
    return (
        examples.groupBy("context", "label")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "context",
            "label",
            "n",
            F.round(
                F.col("n").cast("double") / F.sum("n").over(tot), 6
            ).alias("p_label"),
        )
        .orderBy("context", "label")
    )


def _seq_sql() -> str:
    lags = ", ".join(
        f"lag(event_type, {i}) OVER (PARTITION BY user_id"
        f" ORDER BY ts, event_id) AS l{i}"
        for i in range(1, SEQ_CONTEXT + 1)
    )
    ctx = " || '>' || ".join(f"l{i}" for i in range(SEQ_CONTEXT, 0, -1))
    return f"""
WITH lagged AS (SELECT event_type, {lags} FROM events),
examples AS (
  SELECT {ctx} AS context, event_type AS label
  FROM lagged WHERE l{SEQ_CONTEXT} IS NOT NULL
)
SELECT context, label, COUNT(*) AS n,
  ROUND(CAST(COUNT(*) AS DOUBLE)
        / SUM(COUNT(*)) OVER (PARTITION BY context), 6) AS p_label
FROM examples GROUP BY context, label
ORDER BY context, label
"""


# ---------------------------------------------------------------------------
# Daily percentile bands
# ---------------------------------------------------------------------------


def timeseries_daily_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day exact p50/p95 bands of event value — the SRE/telemetry
    dashboard rollup — via the banded exact-quantile operator with DAY
    as the group (thresholds per group in one bounded-memory pass, no
    per-day sort).

    Scale: the quantile machinery shuffles on (day, band) — days are
    a natural high-cardinality, evenly-loaded key; output is
    calendar-sized.
    """
    from etl_gcp_function_tmabrasil_spark.operators.quantiles import (
        banded_exact_quantiles,
    )

    ev = load_table(spark, sf_dir, "events").select(
        day(F.date_trunc("day", "ts")).alias("d"), "value"
    )
    q = banded_exact_quantiles(
        ev, "d", "value", {"p50": 0.5, "p95": 0.95}, band_width=50.0
    )
    return q.select(
        F.col("d").alias("day"),
        F.col("n_total").cast("long").alias("n_events"),
        "p50",
        "p95",
    ).orderBy("day")


_DAILY_PCT_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
  COUNT(value) AS n_events,
  ROUND(quantile_cont(value, 0.5), 4) AS p50,
  ROUND(quantile_cont(value, 0.95), 4) AS p95
FROM events GROUP BY 1 ORDER BY day
"""

# ---------------------------------------------------------------------------
# Keyword trend lines
# ---------------------------------------------------------------------------

TREND_TOP_WORDS = 10  #: tracked keywords


def text_keyword_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword trend lines: weekly occurrence counts of the corpus's
    TREND_TOP_WORDS most frequent words (df DESC, word ASC), the
    temporal text-analytics rollup — joined against event weeks via a
    deterministic doc→week assignment (doc_id modulo the corpus's
    distinct event weeks) since documents carry no timestamp; the
    assignment is part of the operator contract and identical in the
    oracle.

    Scale: vocabulary selection windows over the vocab-sized df
    table; the tracked-word table broadcasts; the trend rollup is
    (weeks × K)-sized.
    """
    docs = load_table(spark, sf_dir, "documents")
    weeks = (
        load_table(spark, sf_dir, "events")
        .select(F.date_trunc("week", "ts").alias("w"))
        .distinct()
    )
    w_rank = W.orderBy("w")
    weeks_idx = weeks.select(
        "w", (F.row_number().over(w_rank) - 1).alias("widx")
    )
    n_weeks = weeks_idx.agg(F.count(F.lit(1)).alias("n_weeks"))
    dw = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    top = (
        docs.select(
            F.explode(F.array_distinct(F.split("text", " "))).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("df"))
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy(F.lit(1)).orderBy(F.desc("df"), "word")
            ),
        )
        .filter(F.col("rk") <= TREND_TOP_WORDS)
        .select("word")
    )
    assigned = (
        dw.join(F.broadcast(top), "word")
        .join(F.broadcast(n_weeks))
        .select(
            "word", (F.col("doc_id") % F.col("n_weeks")).alias("widx")
        )
    )
    return (
        assigned.groupBy("widx", "word")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .join(F.broadcast(weeks_idx), "widx")
        .select(
            day("w").alias("week"),
            "word",
            "n_occurrences",
        )
        .orderBy("week", "word")
    )


_TREND_SQL = f"""
WITH weeks AS (
  SELECT w, row_number() OVER (ORDER BY w) - 1 AS widx FROM (
    SELECT DISTINCT date_trunc('week', ts) AS w FROM events
  )
),
nw AS (SELECT COUNT(*) AS n_weeks FROM weeks),
dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       FROM documents),
top AS (
  SELECT word FROM (
    SELECT word, row_number() OVER (ORDER BY COUNT(*) DESC, word) AS rk
    FROM (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
          FROM documents)
    GROUP BY word
  ) WHERE rk <= {TREND_TOP_WORDS}
),
assigned AS (
  SELECT dw.word, dw.doc_id % nw.n_weeks AS widx
  FROM dw JOIN top USING (word) CROSS JOIN nw
)
SELECT strftime(weeks.w, '%Y-%m-%d') AS week, a.word,
  COUNT(*) AS n_occurrences
FROM assigned a JOIN weeks ON weeks.widx = a.widx
GROUP BY 1, 2 ORDER BY week, word
"""


QUERIES = {
    "events_longest_streak": events_longest_streak,
    "seq_next_event_training": seq_next_event_training,
    "timeseries_daily_percentiles": timeseries_daily_percentiles,
    "text_keyword_trend": text_keyword_trend,
    "events_retention_cohorts": events_retention_cohorts,
    "events_markov_transitions": events_markov_transitions,
    "rfm_customer_segments": rfm_customer_segments,
    "dq_constraint_suite": dq_constraint_suite,
    "resample_daily_interpolate": resample_daily_interpolate,
    "ab_test_welch": ab_test_welch,
    "text_word_pmi": text_word_pmi,
    "survival_kaplan_meier": survival_kaplan_meier,
    "assoc_mi_chi2": assoc_mi_chi2,
    "window_moving_median": window_moving_median,
    "pareto_contribution_8020": pareto_contribution_8020,
    "phrase_search_positional": phrase_search_positional,
    "profile_frequent_values": profile_frequent_values,
    "agg_linear_regression": agg_linear_regression,
    "window_moving_distinct": window_moving_distinct,
    "vocab_oov_rate": vocab_oov_rate,
    "mixture_sampling_plan": mixture_sampling_plan,
    "bigram_lm_kneser_ney": bigram_lm_kneser_ney,
    "attribution_last_touch": attribution_last_touch,
    "agg_exact_mode": agg_exact_mode,
    "split_kfold_stratified": split_kfold_stratified,
    "dq_benford_digits": dq_benford_digits,
    "ltv_time_decay": ltv_time_decay,
    "timeseries_rolling_zscore": timeseries_rolling_zscore,
    "basket_association_rules": basket_association_rules,
    "timeseries_holt_linear": timeseries_holt_linear,
    "model_decile_lift": model_decile_lift,
}

ORACLE = {
    "events_longest_streak": _STREAK_SQL,
    "seq_next_event_training": _seq_sql(),
    "timeseries_daily_percentiles": _DAILY_PCT_SQL,
    "text_keyword_trend": _TREND_SQL,
    "events_retention_cohorts": _RETENTION_SQL,
    "events_markov_transitions": _MARKOV_SQL,
    "rfm_customer_segments": _RFM_SQL,
    "dq_constraint_suite": _DQ_SQL,
    "resample_daily_interpolate": _INTERP_SQL,
    "ab_test_welch": _WELCH_SQL,
    "text_word_pmi": _PMI_SQL,
    "survival_kaplan_meier": _KM_SQL,
    "assoc_mi_chi2": _ASSOC_SQL,
    "window_moving_median": _MOVMED_SQL,
    "pareto_contribution_8020": _PARETO_SQL,
    "phrase_search_positional": _PHRASE_SQL,
    "profile_frequent_values": _FREQVAL_SQL,
    "agg_linear_regression": _OLS_SQL,
    "window_moving_distinct": _MOVDIST_SQL,
    "vocab_oov_rate": _OOV_SQL,
    "mixture_sampling_plan": _MIXTURE_SQL,
    "bigram_lm_kneser_ney": _KN_SQL,
    "attribution_last_touch": _ATTR_SQL,
    "agg_exact_mode": _MODE_SQL,
    "split_kfold_stratified": _KFOLD_SQL,
    "dq_benford_digits": _BENFORD_SQL,
    "ltv_time_decay": _LTV_SQL,
    "timeseries_rolling_zscore": _ZSCORE_SQL,
    "basket_association_rules": _BASKET_SQL,
    "timeseries_holt_linear": _holt_sql(),
    "model_decile_lift": _lift_sql(),
}


# --- Event-sequence pattern matching (round 10) ------------------------

#: signup, then any run of clicks/views, then purchase — no error or
#: second signup may intervene (each event type contributes its initial
#: letter, which is unique across the five types)
SEQ_PATTERN = "s[cv]*p"


def seq_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event-sequence pattern detection per user — the
    MATCH_RECOGNIZE capability (SQL:2016 row pattern matching, as in
    Flink CEP / Trino MATCH_RECOGNIZE), which Spark lacks natively,
    recovered by compiling each user's event stream to a compact
    symbol string and running the pattern as a regex: one symbol per
    event (initial letter — unique across this taxonomy), sequence
    ordered on the TOTAL key (ts, event_id) so duplicate timestamps
    cannot flip symbols between engines, matches counted
    non-overlapping leftmost (both engines' regex semantics).

    Scale: one shuffle on user_id; per-user state is the bounded
    symbol string (one char per event — a 10k-event user is a 10 KB
    row); the regex scan is row-local. This is the batch shape; the
    streaming analogue is applyInPandasWithState keeping the tail of
    the symbol string per key.
    """
    ev = load_table(spark, sf_dir, "events")
    seq = (
        ev.groupBy("user_id")
        .agg(
            F.expr(
                "array_join(transform("
                "array_sort(collect_list(struct(ts, event_id, event_type))),"
                " x -> substring(x.event_type, 1, 1)), '')"
            ).alias("s")
        )
    )
    return (
        seq.select(
            "user_id",
            F.length("s").alias("seq_len"),
            F.regexp_count("s", F.lit(SEQ_PATTERN)).alias("n_matches"),
        )
        .filter(F.col("n_matches") >= 1)
        .orderBy("user_id")
    )


_SEQ_PATTERN_SQL = f"""
WITH seq AS (
  SELECT user_id,
    string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS s
  FROM events GROUP BY user_id)
SELECT user_id, length(s) AS seq_len,
  length(regexp_extract_all(s, '{SEQ_PATTERN}')) AS n_matches
FROM seq
WHERE length(regexp_extract_all(s, '{SEQ_PATTERN}')) >= 1
ORDER BY user_id
"""

QUERIES["seq_pattern_match"] = seq_pattern_match
ORACLE["seq_pattern_match"] = _SEQ_PATTERN_SQL


# --- Seasonal decomposition (round 10) ----------------------------------

SEAS_HALF = 3  #: centered moving-average half-width (7-day trend)


def timeseries_seasonal_decompose(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Classical additive seasonal decomposition of the per-type daily
    revenue series (the moving-average step of STL, Cleveland et al.
    1990): trend = centered 7-day moving average, seasonal = mean
    detrended value per day-of-week, remainder = value - trend -
    seasonal. The triple is the standard pre-step for anomaly
    detection on seasonal business metrics (the rolling-zscore
    operator's seasonal-aware companion).

    Exactness: the trend average is a DECIMAL window sum divided by
    the frame count (one IEEE division — no float accumulation
    order); detrended values are re-quantized to DECIMAL(18,4) before
    the seasonal mean so the group sum is exact in both engines;
    day-of-week is epoch-day mod 7 (engine-neutral — DuckDB's
    dayofweek is 0-based, Spark's 1-based).

    Scale: one daily rollup shuffle, one per-key ordered window, one
    vocabulary-sized (type x dow) seasonal join — no stage holds more
    than a frame of state per row.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(18,4)")).alias("vd"))
    frame = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-SEAS_HALF, SEAS_HALF)
    )
    tr = daily.select(
        "event_type",
        "day",
        F.col("vd").cast("double").alias("v"),
        (
            F.sum("vd").over(frame).cast("double")
            / F.count(F.lit(1)).over(frame)
        ).alias("trend"),
        F.pmod(F.datediff("day", F.lit("1970-01-01")), F.lit(7)).alias(
            "dow"
        ),
    )
    seas = tr.groupBy("event_type", "dow").agg(
        (
            F.sum(
                (F.col("v") - F.col("trend")).cast("decimal(18,4)")
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("seasonal")
    )
    return (
        tr.join(seas, ["event_type", "dow"])
        .select(
            "event_type",
            F.col("day").cast("string").alias("day_s"),
            F.round("v", 4).alias("v"),
            F.round("trend", 6).alias("trend"),
            F.round("seasonal", 6).alias("seasonal"),
            F.round(
                F.col("v") - F.col("trend") - F.col("seasonal"), 6
            ).alias("remainder"),
        )
        .orderBy("event_type", "day_s")
    )


_SEASONAL_SQL = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
    SUM(CAST(value AS DECIMAL(18,4))) AS vd
  FROM events GROUP BY 1, 2),
tr AS (
  SELECT event_type, day, CAST(vd AS DOUBLE) AS v,
    CAST(SUM(vd) OVER w AS DOUBLE) / COUNT(*) OVER w AS trend,
    (day - DATE '1970-01-01') % 7 AS dow
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN {SEAS_HALF} PRECEDING
               AND {SEAS_HALF} FOLLOWING)),
seas AS (
  SELECT event_type, dow,
    CAST(SUM(CAST(v - trend AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
      AS seasonal
  FROM tr GROUP BY 1, 2)
SELECT tr.event_type, CAST(tr.day AS STRING) AS day_s,
  ROUND(tr.v, 4) AS v, ROUND(tr.trend, 6) AS trend,
  ROUND(seas.seasonal, 6) AS seasonal,
  ROUND(tr.v - tr.trend - seas.seasonal, 6) AS remainder
FROM tr JOIN seas ON tr.event_type = seas.event_type
                 AND tr.dow = seas.dow
ORDER BY tr.event_type, day_s
"""

QUERIES["timeseries_seasonal_decompose"] = timeseries_seasonal_decompose
ORACLE["timeseries_seasonal_decompose"] = _SEASONAL_SQL


# --- Exact weighted median (round 10) -----------------------------------


def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED median per group — the quantity-weighted price
    midpoint (smallest price whose cumulative quantity reaches half
    the total), the estimator banded quantiles cannot give you when
    rows carry weights. Entirely in the DECIMAL domain: the crossing
    test is 2*cumw >= total (no division), and the RANGE frame makes
    the running weight include all price peers, so tie order between
    engines cannot move the crossing.

    Scale: the banded weighted-median operator
    (operators/quantiles.banded_weighted_median, r15) — per-band
    weight sums + a row-local crossing-band fold + a re-scan of ONLY
    the crossing band, replacing the r14 per-group RANGE window that
    sorted every row of a group in one task (3 groups here — a
    3-task sort of the whole table at any scale; measured sf0.1
    min-of-4 head-to-head: 1.72 s -> 1.11 s). The crossing test and
    every weight sum stay in exact decimals, so the banding cannot
    move the crossing — re-verified against the unchanged
    single-window oracle at all three SFs.
    """
    from etl_gcp_function_tmabrasil_spark.operators.quantiles import (
        banded_weighted_median,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").alias("w"),
    )
    return banded_weighted_median(
        li, "l_returnflag", "price", "w"
    ).orderBy("l_returnflag")


_WMEDIAN_SQL = """
WITH c AS (
  SELECT l_returnflag, l_extendedprice AS price,
    SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER
      (PARTITION BY l_returnflag ORDER BY l_extendedprice
       RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
    SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER
      (PARTITION BY l_returnflag) AS total
  FROM lineitem)
SELECT l_returnflag,
  CAST(MIN(price) AS DOUBLE) AS weighted_median,
  CAST(MAX(total) AS DOUBLE) AS total_weight
FROM c WHERE cumw * 2 >= total
GROUP BY l_returnflag ORDER BY l_returnflag
"""

QUERIES["agg_weighted_median"] = agg_weighted_median
ORACLE["agg_weighted_median"] = _WMEDIAN_SQL


# --- Quantile normalization profile (round 10) ---------------------------

QNORM_BINS = 20  #: equal-depth bins per source distribution
#: price-band width for the banded-rank ntile (r15): o_totalprice spans
#: ~0.9k–600k, so ~10k-wide bands give ~60 parallel rank tasks per
#: source; the band table (sources × bands rows) stays metadata-sized
#: at any scale and the width only moves parallelism, never the result.
QNORM_BAND_WIDTH = 10_000.0


def quantile_normalize_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantile-normalization profile across sources (the microarray
    normalization classic, Bolstad et al. 2003, applied to
    heterogeneous score feeds): bin each priority class's price
    distribution into QNORM_BINS equal-depth bins, take the per-bin
    mean, and compute the cross-source REFERENCE profile (mean of the
    per-source bin means) plus each source's additive adjustment —
    what a pipeline applies to make scores from different graders /
    feeds comparable before mixing.

    Determinism: the bin comes from the TOTAL order (price,
    o_orderkey) — ordered on price alone, equal prices would be framed
    arbitrarily and bin populations could differ between engines (the
    gaps-and-islands tie lesson). Means are decimal sums divided
    once.

    Scale (r15 rewrite): a bare per-source ntile window moves every
    row of a source through ONE task — with |sources| = 5 the whole
    table sorts on ≤5 tasks at any scale. The banded-rank machinery
    (operators/banded_rank.py, the window_ntile pattern) computes the
    IDENTICAL bin: within-(source, price-band) row_number (parallelism
    = sources × bands), exclusive prefix over the tiny band table,
    global rank = offset + within-band rn, and exact NTILE arithmetic
    from (rank, n_total). Measured at sf0.1: 1.253/1.364 → 1.000/1.143 s
    min/med (OPTIMIZATION_r15.md); the physical plan went from a Window over
    hashpartitioning(grp) to the banded two-pass. Means are unchanged
    decimal sums.
    """
    from etl_gcp_function_tmabrasil_spark.operators.banded_rank import (
        banded_global_rank,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("price"),
        "o_orderkey",
    )
    d = orders.withColumn(
        "bkt", F.floor(F.col("price") / QNORM_BAND_WIDTH).cast("long")
    )
    ranked = banded_global_rank(
        d, "bkt", [F.asc("price"), F.asc("o_orderkey")], group=["grp"]
    )
    # exact NTILE(b) arithmetic from 1-based rank r and group total N:
    # q = N div b, m = N mod b — the first m tiles hold q+1 rows
    r = F.col("r")
    q_expr = f"(n_total div {QNORM_BINS})"
    m = F.col("n_total") % QNORM_BINS
    big = (F.expr(q_expr) + 1) * m
    bin_col = F.when(
        r <= big, F.expr(f"(r - 1) div ({q_expr} + 1)") + 1
    ).otherwise(
        m
        + F.expr(
            f"(r - 1 - ({q_expr} + 1) * (n_total % {QNORM_BINS}))"
            f" div {q_expr}"
        )
        + 1
    )
    binned = ranked.select(
        "grp", "price", bin_col.cast("int").alias("bin")
    )
    per_src = binned.groupBy("grp", "bin").agg(
        (
            F.sum(F.col("price").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("src_mean")
    )
    ref = per_src.groupBy("bin").agg(
        (
            F.sum(F.col("src_mean").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("ref_mean")
    )
    return (
        per_src.join(ref, "bin")
        .select(
            "grp",
            "bin",
            F.round("src_mean", 4).alias("src_mean"),
            F.round("ref_mean", 4).alias("ref_mean"),
            F.round(F.col("ref_mean") - F.col("src_mean"), 4).alias(
                "adjustment"
            ),
        )
        .orderBy("grp", "bin")
    )


_QNORM_SQL = f"""
WITH binned AS (
  SELECT o_orderpriority AS grp, o_totalprice AS price,
    NTILE({QNORM_BINS}) OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice, o_orderkey) AS bin
  FROM orders),
per_src AS (
  SELECT grp, bin,
    CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
      AS src_mean
  FROM binned GROUP BY 1, 2),
ref AS (
  SELECT bin,
    CAST(SUM(CAST(src_mean AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
      AS ref_mean
  FROM per_src GROUP BY 1)
SELECT grp, per_src.bin AS bin, ROUND(src_mean, 4) AS src_mean,
  ROUND(ref_mean, 4) AS ref_mean,
  ROUND(ref_mean - src_mean, 4) AS adjustment
FROM per_src JOIN ref ON per_src.bin = ref.bin
ORDER BY grp, per_src.bin
"""

QUERIES["quantile_normalize_profile"] = quantile_normalize_profile
ORACLE["quantile_normalize_profile"] = _QNORM_SQL


# --- Winsorized robust mean (round 10) -----------------------------------


def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (clip at the empirical p05/p95) + robust mean per
    event type — the outlier TREATMENT that complements the detection
    operators (IQR/MAD screens find outliers; winsorizing bounds their
    leverage without dropping rows, the standard prep for
    mean-sensitive downstream features).

    The fences are type-1 (inverse-CDF) quantiles: smallest value
    whose cumulative count reaches ceil(q*n), computed with integer
    rank arithmetic ((n+19) DIV 20 and (19n+19) DIV 20 — no float
    epsilon can move a fence) over a RANGE cumulative window (price
    peers share a cumulative count, so tie order cannot move the
    crossing). Clipped sums stay in the DECIMAL domain.

    Scale: one window sort per group + one clip rollup; no per-group
    buffering.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("value").cast("decimal(18,4)").alias("v")
    )
    part = W.partitionBy("event_type")
    cum = part.orderBy("v").rangeBetween(W.unboundedPreceding, W.currentRow)
    ranked = ev.select(
        "event_type",
        "v",
        F.count(F.lit(1)).over(cum).alias("cumn"),
        F.count(F.lit(1)).over(part).alias("n"),
    )
    fences = (
        ranked.groupBy("event_type")
        .agg(
            F.min(
                F.when(
                    F.col("cumn") >= F.expr("(n + 19) DIV 20"), F.col("v")
                )
            ).alias("p05"),
            F.min(
                F.when(
                    F.col("cumn") >= F.expr("(n * 19 + 19) DIV 20"),
                    F.col("v"),
                )
            ).alias("p95"),
        )
    )
    clipped = ev.join(fences, "event_type").select(
        "event_type",
        "p05",
        "p95",
        F.when(F.col("v") < F.col("p05"), 1).otherwise(0).alias("lo"),
        F.when(F.col("v") > F.col("p95"), 1).otherwise(0).alias("hi"),
        F.greatest(F.least(F.col("v"), F.col("p95")), F.col("p05")).alias(
            "cv"
        ),
    )
    return (
        clipped.groupBy("event_type")
        .agg(
            F.max("p05").cast("double").alias("p05"),
            F.max("p95").cast("double").alias("p95"),
            F.sum("lo").alias("n_clipped_low"),
            F.sum("hi").alias("n_clipped_high"),
            (
                F.sum("cv").cast("double") / F.count(F.lit(1))
            ).alias("win_mean_raw"),
        )
        .select(
            "event_type",
            "p05",
            "p95",
            "n_clipped_low",
            "n_clipped_high",
            F.round("win_mean_raw", 6).alias("winsorized_mean"),
        )
        .orderBy("event_type")
    )


_WINSOR_SQL = """
WITH ev AS (
  SELECT event_type, CAST(value AS DECIMAL(18,4)) AS v FROM events),
ranked AS (
  SELECT event_type, v,
    COUNT(*) OVER (PARTITION BY event_type ORDER BY v
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS cumn,
    COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM ev),
fences AS (
  SELECT event_type,
    MIN(CASE WHEN cumn >= (n + 19) // 20 THEN v END) AS p05,
    MIN(CASE WHEN cumn >= (n * 19 + 19) // 20 THEN v END) AS p95
  FROM ranked GROUP BY 1),
clipped AS (
  SELECT ev.event_type, p05, p95,
    CASE WHEN v < p05 THEN 1 ELSE 0 END AS lo,
    CASE WHEN v > p95 THEN 1 ELSE 0 END AS hi,
    GREATEST(LEAST(v, p95), p05) AS cv
  FROM ev JOIN fences ON ev.event_type = fences.event_type)
SELECT event_type,
  CAST(MAX(p05) AS DOUBLE) AS p05, CAST(MAX(p95) AS DOUBLE) AS p95,
  CAST(SUM(lo) AS BIGINT) AS n_clipped_low,
  CAST(SUM(hi) AS BIGINT) AS n_clipped_high,
  ROUND(CAST(SUM(cv) AS DOUBLE) / COUNT(*), 6) AS winsorized_mean
FROM clipped GROUP BY 1 ORDER BY event_type
"""

QUERIES["agg_winsorized_mean"] = agg_winsorized_mean
ORACLE["agg_winsorized_mean"] = _WINSOR_SQL


# --- Population stability index (round 10) -------------------------------

PSI_BINS = 10  #: equal-depth bins derived from the REFERENCE window
PSI_FLOOR = 1.0e-4  #: standard zero-proportion floor


def drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event type — the model-monitoring
    drift statistic (banking scorecard practice; the binned companion
    of the corpus JSD operator): bin edges are type-1 deciles of the
    REFERENCE window (the timeline's first half), both windows'
    proportions are measured against those fixed edges, and
    PSI = sum((q-p) * ln(q/p)) with the standard 1e-4 zero floor.
    Rule of thumb thresholds (<0.1 stable, >0.25 shifted) ship as a
    verdict column so the gate hashes the decision, not just the
    number.

    Determinism: the timeline midpoint is epoch-integer arithmetic;
    edges come from integer ceil-ranks over a RANGE cumulative window
    (peers pooled — the winsorize fences' machinery); bin assignment
    compares decimals; ln terms follow the fixed-point idiom.

    Scale: one window sort over the reference half per type, two
    grouped counts, a bins-per-type broadcast join — no stage holds
    more than the edge list per row.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.col("value").cast("decimal(18,4)").alias("v"),
        F.unix_timestamp("ts").alias("es"),
    )
    # Integer floor-division on BOTH engines: Spark's ((min+max)/2)
    # .cast('long') truncates an odd sum down while DuckDB's
    # CAST(../2 AS BIGINT) rounds it up — an event at the floor
    # midpoint would land in different halves (r10 ADVICE item).
    bounds = ev.agg(
        F.expr("(min(es) + max(es)) DIV 2").alias("mid")
    )
    tagged = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        "v",
        F.when(F.col("es") < F.col("mid"), F.lit("ref"))
        .otherwise(F.lit("cur"))
        .alias("half"),
    )
    ref = tagged.filter(F.col("half") == "ref")
    part = W.partitionBy("event_type")
    cum = part.orderBy("v").rangeBetween(W.unboundedPreceding, W.currentRow)
    ranked = ref.select(
        "event_type",
        "v",
        F.count(F.lit(1)).over(cum).alias("cumn"),
        F.count(F.lit(1)).over(part).alias("n"),
    )
    edge_aggs = [
        F.min(
            F.when(
                F.col("cumn") >= F.expr(f"(n * {i} + {PSI_BINS - 1}) DIV {PSI_BINS}"),
                F.col("v"),
            )
        ).alias(f"e{i}")
        for i in range(1, PSI_BINS)
    ]
    edges = ranked.groupBy("event_type").agg(*edge_aggs)
    bin_expr = F.lit(1)
    for i in range(1, PSI_BINS):
        bin_expr = bin_expr + F.when(F.col("v") > F.col(f"e{i}"), 1).otherwise(0)
    binned = tagged.join(F.broadcast(edges), "event_type").select(
        "event_type", "half", bin_expr.alias("bin")
    )
    counts = binned.groupBy("event_type", "half", "bin").agg(
        F.count(F.lit(1)).alias("c")
    )
    totals = counts.groupBy("event_type", "half").agg(
        F.sum("c").alias("tot")
    )
    # full (type x half x bin) grid so empty bins floor instead of drop
    grid = (
        totals.select("event_type", "half", "tot")
        .crossJoin(F.broadcast(spark.range(1, PSI_BINS + 1).select(
            F.col("id").cast("int").alias("bin"))))
        .join(counts, ["event_type", "half", "bin"], "left")
        .select(
            "event_type",
            "half",
            "bin",
            F.greatest(
                F.coalesce(F.col("c"), F.lit(0)) / F.col("tot"),
                F.lit(PSI_FLOOR),
            ).alias("prop"),
        )
    )
    wide = (
        grid.groupBy("event_type", "bin")
        .pivot("half", ["ref", "cur"])
        .agg(F.first("prop"))
    )
    term = F.round(
        (F.col("cur") - F.col("ref")) * F.log(F.col("cur") / F.col("ref")), 8
    )
    return (
        wide.groupBy("event_type")
        .agg(F.sum(term.cast("decimal(20,8)")).alias("psi_d"))
        .select(
            "event_type",
            F.round(F.col("psi_d").cast("double"), 6).alias("psi"),
            F.when(F.col("psi_d") < 0.1, "stable")
            .when(F.col("psi_d") < 0.25, "moderate")
            .otherwise("shifted")
            .alias("verdict"),
        )
        .orderBy("event_type")
    )


def _psi_sql() -> str:
    edge_cols = ",\n    ".join(
        f"MIN(CASE WHEN cumn >= (n * {i} + {PSI_BINS - 1}) // {PSI_BINS}"
        f" THEN v END) AS e{i}"
        for i in range(1, PSI_BINS)
    )
    bin_expr = " + ".join(
        f"CASE WHEN v > e{i} THEN 1 ELSE 0 END" for i in range(1, PSI_BINS)
    )
    return f"""
WITH ev AS (
  SELECT event_type, CAST(value AS DECIMAL(18,4)) AS v,
    CAST(FLOOR(epoch(ts)) AS BIGINT) AS es
  FROM events),
b AS (SELECT (MIN(es) + MAX(es)) // 2 AS mid FROM ev),
tagged AS (
  SELECT event_type, v,
    CASE WHEN es < mid THEN 'ref' ELSE 'cur' END AS half
  FROM ev CROSS JOIN b),
ranked AS (
  SELECT event_type, v,
    COUNT(*) OVER (PARTITION BY event_type ORDER BY v
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS cumn,
    COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM tagged WHERE half = 'ref'),
edges AS (
  SELECT event_type, {edge_cols}
  FROM ranked GROUP BY event_type),
binned AS (
  SELECT t.event_type, t.half, 1 + {bin_expr} AS bin
  FROM tagged t JOIN edges USING (event_type)),
counts AS (
  SELECT event_type, half, bin, COUNT(*) AS c
  FROM binned GROUP BY 1, 2, 3),
totals AS (
  SELECT event_type, half, SUM(c) AS tot FROM counts GROUP BY 1, 2),
grid AS (
  SELECT totals.event_type, totals.half, bins.bin,
    GREATEST(COALESCE(c, 0) / CAST(tot AS DOUBLE), {PSI_FLOOR}) AS prop
  FROM totals
  CROSS JOIN (SELECT unnest(generate_series(1, {PSI_BINS})) AS bin) bins
  LEFT JOIN counts ON counts.event_type = totals.event_type
    AND counts.half = totals.half AND counts.bin = bins.bin),
wide AS (
  SELECT event_type, bin,
    MAX(CASE WHEN half = 'ref' THEN prop END) AS ref,
    MAX(CASE WHEN half = 'cur' THEN prop END) AS cur
  FROM grid GROUP BY 1, 2),
psi AS (
  SELECT event_type,
    SUM(CAST(ROUND((cur - ref) * ln(cur / ref), 8) AS DECIMAL(20,8)))
      AS psi_d
  FROM wide GROUP BY 1)
SELECT event_type, ROUND(CAST(psi_d AS DOUBLE), 6) AS psi,
  CASE WHEN psi_d < 0.1 THEN 'stable'
       WHEN psi_d < 0.25 THEN 'moderate'
       ELSE 'shifted' END AS verdict
FROM psi ORDER BY event_type
"""


QUERIES["drift_psi"] = drift_psi
ORACLE["drift_psi"] = _psi_sql()


# --- Join-key skew profiler (round 10) -----------------------------------

_SKEW_COLS = ["l_orderkey", "l_partkey", "l_suppkey"]


def profile_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics over candidate shuffle keys — the
    planner input for "does this join need salting / AQE skew
    handling": for each candidate key column, the key-count
    distribution's max / p99 / median (type-1 ranks), the
    max-to-median skew ratio, the hottest key's row share, and the
    Herfindahl concentration index (sum of squared shares — 1/HHI is
    the effective key count). All three columns profile in ONE
    unpivoted pass (the RFM lesson: never N funnels for N columns).

    Scale: stack is row-local; one count shuffle keyed on
    (column, key); the per-column stats run over the COUNT HISTOGRAM
    (one row per distinct count value — O(hundreds) even at 100 TB),
    with integer-rank order statistics — no float epsilon in any
    fence.
    """
    li = load_table(spark, sf_dir, "lineitem")
    stacked = li.select(
        F.expr(
            "stack(3, "
            + ", ".join(f"'{c}', {c}" for c in _SKEW_COLS)
            + ") AS (col_name, key)"
        )
    )
    kc = stacked.groupBy("col_name", "key").agg(
        F.count(F.lit(1)).alias("c")
    )
    # Collapse the key-count table to its COUNT HISTOGRAM before any
    # window: every statistic below depends only on how many keys (k)
    # share each count value (c) — and distinct count values are tiny
    # (uniform keys give 1; Zipf keys give O(hundreds); this fixture's
    # l_orderkey has 17) while distinct KEYS are data-sized. The r14
    # shape windowed over the full key-count table (150 k rows at
    # sf0.1; key-cardinality-sized at 100 TB — a scale hazard for the
    # single-task per-column sort); the histogram window input is
    # O(distinct counts). cumk at count c (#keys with count <= c) is
    # identical by construction: the RANGE frame pooled count peers,
    # which is exactly what the histogram row aggregates (r15,
    # guide §2.3 "aggregate before you shuffle").
    hist = kc.groupBy("col_name", "c").agg(F.count(F.lit(1)).alias("k"))
    part = W.partitionBy("col_name")
    cum = part.orderBy("c").rangeBetween(W.unboundedPreceding, W.currentRow)
    ranked = hist.select(
        "col_name",
        "c",
        "k",
        F.sum("k").over(cum).alias("cumk"),
        F.sum("k").over(part).alias("d"),
        F.sum(F.col("c") * F.col("k")).over(part).alias("n"),
    )
    return (
        ranked.groupBy("col_name")
        .agg(
            F.max("n").alias("n_rows"),
            F.max("d").alias("n_keys"),
            F.max("c").alias("max_count"),
            F.min(
                F.when(
                    F.col("cumk") >= F.expr("(d * 99 + 99) DIV 100"),
                    F.col("c"),
                )
            ).alias("p99_count"),
            F.min(
                F.when(F.col("cumk") >= F.expr("(d + 1) DIV 2"), F.col("c"))
            ).alias("median_count"),
            F.sum(F.col("c") * F.col("c") * F.col("k")).alias("sum_c2"),
        )
        .select(
            "col_name",
            "n_rows",
            "n_keys",
            "max_count",
            "p99_count",
            "median_count",
            F.round(
                F.col("max_count") / F.col("median_count"), 6
            ).alias("skew_ratio"),
            F.round(F.col("max_count") / F.col("n_rows"), 8).alias(
                "top1_share"
            ),
            F.round(
                F.col("sum_c2") / (F.col("n_rows") * F.col("n_rows")), 8
            ).alias("hhi"),
        )
        .orderBy("col_name")
    )


_KEY_SKEW_SQL = f"""
WITH stacked AS (
  {" UNION ALL ".join(
      f"SELECT '{c}' AS col_name, {c} AS key FROM lineitem"
      for c in _SKEW_COLS)}),
kc AS (SELECT col_name, key, COUNT(*) AS c FROM stacked GROUP BY 1, 2),
ranked AS (
  SELECT col_name, c,
    COUNT(*) OVER (PARTITION BY col_name ORDER BY c
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS cumk,
    COUNT(*) OVER (PARTITION BY col_name) AS d,
    SUM(c) OVER (PARTITION BY col_name) AS n
  FROM kc)
SELECT col_name,
  CAST(MAX(n) AS BIGINT) AS n_rows,
  CAST(MAX(d) AS BIGINT) AS n_keys,
  CAST(MAX(c) AS BIGINT) AS max_count,
  CAST(MIN(CASE WHEN cumk >= (d * 99 + 99) // 100 THEN c END) AS BIGINT)
    AS p99_count,
  CAST(MIN(CASE WHEN cumk >= (d + 1) // 2 THEN c END) AS BIGINT)
    AS median_count,
  ROUND(CAST(MAX(c) AS DOUBLE)
        / MIN(CASE WHEN cumk >= (d + 1) // 2 THEN c END), 6)
    AS skew_ratio,
  ROUND(CAST(MAX(c) AS DOUBLE) / MAX(n), 8) AS top1_share,
  ROUND(CAST(SUM(c * c) AS DOUBLE) / (MAX(n) * MAX(n)), 8) AS hhi
FROM ranked GROUP BY col_name ORDER BY col_name
"""

QUERIES["profile_key_skew"] = profile_key_skew
ORACLE["profile_key_skew"] = _KEY_SKEW_SQL


# --- Neyman-allocation sampling plan (round 10) --------------------------

NEYMAN_FRAC = 10  #: total sample = N DIV NEYMAN_FRAC (scale-relative)


def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-OPTIMAL stratified sample allocation (Neyman 1934):
    given a total sample budget, allocate each stratum
    n_h ∝ N_h * S_h — more samples where the stratum is big OR noisy —
    against the naive proportional plan (n_h ∝ N_h) for contrast.
    This is the planner a 100 TB sampling job runs FIRST: one cheap
    moments pass decides how many rows each stratum contributes before
    any row is drawn (the row-local draw itself is the existing
    deterministic-hash sampling family).

    Exactness: per-stratum std comes from decimal moment sums (one
    sqrt per stratum); allocation shares use the 6-dp-rounded stds and
    decimal-summed products so no cross-stratum float accumulation
    order exists; the budget is integer N DIV NEYMAN_FRAC.

    Scale: ONE grouped moments pass over the fact (count + decimal
    sum + decimal sum-of-squares), then arithmetic over |strata| rows.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("stratum"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("x"),
    )
    mom = orders.groupBy("stratum").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    # sample std from exact decimal moments, one double sqrt
    std = F.round(
        F.sqrt(
            (
                F.col("n_rows") * F.col("sxx").cast("double")
                - F.col("sx").cast("double") * F.col("sx").cast("double")
            )
            / (F.col("n_rows") * (F.col("n_rows") - 1))
        ),
        6,
    )
    w = mom.select("stratum", "n_rows", std.alias("std_x")).withColumn(
        "ns", (F.col("n_rows") * F.col("std_x")).cast("decimal(28,6)")
    )
    tot = w.agg(
        F.sum("ns").alias("tot_ns"), F.sum("n_rows").alias("tot_n")
    )
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "stratum",
            "n_rows",
            "std_x",
            F.round(
                F.expr(f"tot_n DIV {NEYMAN_FRAC}")
                * (F.col("ns") / F.col("tot_ns")).cast("double")
            )
            .cast("long")
            .alias("alloc_neyman"),
            F.round(
                F.expr(f"tot_n DIV {NEYMAN_FRAC}")
                * (
                    F.col("n_rows")
                    / F.col("tot_n").cast("double")
                )
            )
            .cast("long")
            .alias("alloc_proportional"),
        )
        .orderBy("stratum")
    )


_NEYMAN_SQL = f"""
WITH mom AS (
  SELECT o_orderpriority AS stratum, COUNT(*) AS n_rows,
    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sx,
    SUM(CAST(o_totalprice AS DECIMAL(18,2))
        * CAST(o_totalprice AS DECIMAL(19,2))) AS sxx
  FROM orders GROUP BY 1),
w AS (
  SELECT stratum, n_rows,
    ROUND(SQRT((n_rows * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               / (n_rows * (n_rows - 1))), 6) AS std_x
  FROM mom),
w2 AS (
  SELECT stratum, n_rows, std_x,
    CAST(n_rows * std_x AS DECIMAL(28,6)) AS ns
  FROM w),
tot AS (SELECT SUM(ns) AS tot_ns, SUM(n_rows) AS tot_n FROM w2)
SELECT stratum, n_rows, std_x,
  CAST(ROUND((tot_n // {NEYMAN_FRAC})
             * CAST(ns / tot_ns AS DOUBLE)) AS BIGINT) AS alloc_neyman,
  CAST(ROUND((tot_n // {NEYMAN_FRAC})
             * (n_rows / CAST(tot_n AS DOUBLE))) AS BIGINT)
    AS alloc_proportional
FROM w2 CROSS JOIN tot ORDER BY stratum
"""

QUERIES["sample_neyman_allocation"] = sample_neyman_allocation
ORACLE["sample_neyman_allocation"] = _NEYMAN_SQL


# --- Autocorrelation function (round 11) ----------------------------------

ACF_MAX_LAG = 3  #: lags reported per series


def timeseries_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation function per event type at lags
    1..ACF_MAX_LAG — the Box-Jenkins model-identification statistic
    (is this series AR-ish? how fast does memory decay?) and the
    seasonal-decomposition row's diagnostic companion:
    r_L = sum_{t>L}((x_t - mean)(x_{t-L} - mean)) /
          sum_t((x_t - mean)^2), with the series ordered by the TOTAL
    key (ts, event_id) (duplicate-ts gotcha: a bare ts order frames
    ties arbitrarily and differently per engine).

    Determinism: the mean is exact-decimal-sum / count (one double
    division); deviations and their products are plain double
    arithmetic in the same order on both engines; each product is
    rounded to 6 dp before the exact decimal sum (the fixed-point
    logprob idiom); the final ratio is one double division rounded to
    6 dp.

    Scale: one broadcast join of the per-type means (group count =
    event types), then ONE window pass per type computing all
    ACF_MAX_LAG lag columns over the same (type; ts, event_id) sort —
    Catalyst evaluates the three lags in a single WindowExec, so the
    series shuffles once regardless of how many lags are reported.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", F.col("value").alias("v")
    )
    means = ev.groupBy("event_type").agg(
        (
            F.sum(F.col("v").cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mu"),
        F.count(F.lit(1)).alias("n_obs"),
    )
    dev = ev.join(F.broadcast(means), "event_type").select(
        "event_type",
        "ts",
        "event_id",
        "n_obs",
        (F.col("v") - F.col("mu")).alias("d"),
    )
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    lagged = dev.select(
        "event_type",
        "n_obs",
        F.round(F.col("d") * F.col("d"), 6)
        .cast("decimal(20,6)")
        .alias("dd"),
        *[
            F.round(F.col("d") * F.lag("d", L).over(w), 6)
            .cast("decimal(20,6)")
            .alias(f"dl{L}")
            for L in range(1, ACF_MAX_LAG + 1)
        ],
    )
    agg = lagged.groupBy("event_type").agg(
        F.max("n_obs").alias("n_obs"),
        F.sum("dd").alias("den"),
        *[F.sum(f"dl{L}").alias(f"num{L}") for L in range(1, ACF_MAX_LAG + 1)],
    )
    acf_cols = [
        F.round(
            F.col(f"num{L}").cast("double") / F.col("den").cast("double"), 6
        ).alias(f"acf_lag{L}")
        for L in range(1, ACF_MAX_LAG + 1)
    ]
    return agg.select("event_type", "n_obs", *acf_cols).orderBy(
        "event_type"
    )


_ACF_SQL = f"""
WITH mu AS (
  SELECT event_type,
    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS mu,
    COUNT(*) AS n_obs
  FROM events GROUP BY 1),
dev AS (
  SELECT e.event_type, n_obs, e.ts, e.event_id, (e.value - mu.mu) AS d
  FROM events e JOIN mu ON e.event_type = mu.event_type),
lagged AS (
  SELECT event_type, n_obs,
    CAST(ROUND(d * d, 6) AS DECIMAL(20,6)) AS dd,
    {", ".join(
        "CAST(ROUND(d * LAG(d, %d) OVER "
        "(PARTITION BY event_type ORDER BY ts, event_id), 6) "
        "AS DECIMAL(20,6)) AS dl%d" % (L, L)
        for L in range(1, ACF_MAX_LAG + 1)
    )}
  FROM dev),
agg AS (
  SELECT event_type, MAX(n_obs) AS n_obs, SUM(dd) AS den,
    {", ".join("SUM(dl%d) AS num%d" % (L, L)
               for L in range(1, ACF_MAX_LAG + 1))}
  FROM lagged GROUP BY 1)
SELECT event_type, n_obs,
  {", ".join(
      "ROUND(CAST(num%d AS DOUBLE) / CAST(den AS DOUBLE), 6) AS acf_lag%d"
      % (L, L) for L in range(1, ACF_MAX_LAG + 1)
  )}
FROM agg ORDER BY event_type
"""

QUERIES["timeseries_acf"] = timeseries_acf
ORACLE["timeseries_acf"] = _ACF_SQL


# --- Funnel time-to-convert bands (round 11) -------------------------------


def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution of the view→purchase funnel: for
    every user whose first purchase FOLLOWS their first view, the
    conversion delay in seconds, banded into exact p25/median/p75 per
    day-of-week of the first view — the funnel row's (r8) latency
    companion (how LONG conversion takes, not just whether it
    happens), and the input to SLA/abandonment analysis.

    Scale: two per-user min aggregations (one shuffle on user_id,
    both stages from the same grouped pass), a row-local delay
    computation, then the banded-rank exact quantiles — no group's
    delays are ever buffered (operators/quantiles.py).

    Determinism: delays are integer seconds (epoch FLOOR on both
    engines); quantiles follow the shared quantile_cont linear
    interpolation; day-of-week uses DuckDB's 0-based dayofweek
    convention (Sunday=0) mapped explicitly on the Spark side.
    """
    ev = load_table(spark, sf_dir, "events")
    firsts = (
        ev.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
                "first_view"
            ),
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            ).alias("first_purchase"),
        )
        .filter(
            F.col("first_view").isNotNull()
            & F.col("first_purchase").isNotNull()
            & (F.col("first_purchase") > F.col("first_view"))
        )
    )
    from etl_gcp_function_tmabrasil_spark.queries._util import managed_persist

    # persisted (r15): banded_exact_quantiles re-scans its input for
    # the pass-2 rank pick — by design at 100 TB when the input is a
    # raw table scan, but HERE the input is the per-user first-touch
    # aggregation, so the un-persisted form re-ran the whole events
    # scan + user shuffle a second time (measured at sf0.1: 3.1 s →
    # ~1 s). The cached frame is converters-sized (2 narrow columns).
    delays = managed_persist(
        firsts.select(
            # DuckDB dayofweek is 0-based Sunday; Spark dayofweek 1-based
            (F.dayofweek("first_view") - 1).alias("view_dow"),
            (
                F.floor(F.unix_micros("first_purchase") / 1_000_000)
                - F.floor(F.unix_micros("first_view") / 1_000_000)
            )
            .cast("double")
            .alias("delay_s"),
        ),
        "analytics.funnel_ttc_delays",
    )
    from etl_gcp_function_tmabrasil_spark.operators.quantiles import (
        banded_exact_quantiles,
    )

    q = banded_exact_quantiles(
        delays,
        "view_dow",
        "delay_s",
        {"p25_s": 0.25, "median_s": 0.5, "p75_s": 0.75},
        band_width=3600.0,
    )
    return q.select(
        "view_dow",
        F.col("n_total").alias("n_converters"),
        "p25_s",
        "median_s",
        "p75_s",
    ).orderBy("view_dow")


_FUNNEL_TTC_SQL = """
WITH firsts AS (
  SELECT user_id,
    MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY user_id),
delays AS (
  SELECT dayofweek(first_view) AS view_dow,
    CAST(FLOOR(epoch(first_purchase)) - FLOOR(epoch(first_view))
         AS DOUBLE) AS delay_s
  FROM firsts
  WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
    AND first_purchase > first_view)
SELECT view_dow, COUNT(*) AS n_converters,
  ROUND(quantile_cont(delay_s, 0.25), 4) AS p25_s,
  ROUND(quantile_cont(delay_s, 0.5), 4) AS median_s,
  ROUND(quantile_cont(delay_s, 0.75), 4) AS p75_s
FROM delays GROUP BY view_dow ORDER BY view_dow
"""

QUERIES["funnel_time_to_convert"] = funnel_time_to_convert
ORACLE["funnel_time_to_convert"] = _FUNNEL_TTC_SQL


# --- Poisson bootstrap confidence intervals (round 11) ----------------------

BOOT_REPLICAS = 64  #: bootstrap resamples (one corpus pass, all of them)
#: Cumulative Poisson(1) CDF thresholds for k = 0..7 — the inverse-CDF
#: ladder that turns one uniform into a bootstrap weight. Literals are
#: shared verbatim with the oracle so the weight is engine-identical.
_POIS_CDF = [
    0.367879441, 0.735758882, 0.919698603, 0.981011843,
    0.996340153, 0.999405815, 0.999916758, 0.999989750,
]


def stats_bootstrap_ci(
    spark: SparkSession, sf_dir: str, replicas: int = BOOT_REPLICAS
) -> DataFrame:
    """Bootstrap confidence interval for each event type's mean value
    via the POISSON bootstrap (Hanley & MacGibbon 2006; the
    map-reduce-friendly bootstrap: per (row, replica), a Poisson(1)
    weight approximates multinomial resampling without materializing
    resamples — the only bootstrap that works in ONE pass over a
    distributed corpus, which is why production A/B systems use it).
    ``replicas`` (default BOOT_REPLICAS=64) resamples ride one
    explode: weight = inverse-CDF ladder over a deterministic
    hash-uniform, replica means from decimal sums, and the 2.5/97.5
    percentile of the B means per type gives the CI.

    Cost/width knob (r12 verdict item 8): the explode is a Bx row
    amplification, so runtime scales ~linearly in B while the CI's
    Monte-Carlo error scales ~1/sqrt(B) — B=32 halves the cost for
    ~sqrt(2) noisier percentile endpoints (measured at sf0.1:
    B=64 -> 12.7 s min, B=32 -> 6.0 s min, 2.12x; see SCALING.md).
    The registered contract entry stays at B=64.

    Determinism: u = hash60(event_id # replica) / 2^60 is the same
    double on both engines; the CDF ladder literals are shared
    verbatim; replica means are exact-decimal-sum / weight-count; the
    percentile interpolates over a SORTED bounded array (64 values per
    type — collect_list is bounded by BOOT_REPLICAS, never by data).

    Scale: the corpus is scanned once and exploded x64 into a
    word-count-shaped (type, replica) agg — partial aggregation
    collapses each task's contribution before the exchange, so the
    shuffle carries types x replicas rows, not the exploded stream.
    """
    from etl_gcp_function_tmabrasil_spark.queries._util import SPARK_HASH60

    # rebalance="compute": the ×64 replica explode turns every input row
    # into 64 md5+ladder evaluations, so the whole pre-shuffle pipeline
    # must not sit behind a one-row-group scan task (measured at sf0.1:
    # 13.8 s single-task → ~1 s spread across the cores; no-op on
    # healthy multi-row-group layouts).
    ev = load_table(spark, sf_dir, "events", rebalance="compute").select(
        "event_type", "event_id", F.col("value").alias("v")
    )
    h = SPARK_HASH60.format(
        expr="concat(cast(event_id as string), '#', cast(r as string))"
    )
    reps = ev.select(
        "event_type", "event_id", "v",
        F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))).alias("r"),
    ).select(
        "event_type",
        "r",
        "v",
        (F.expr(h) / F.lit(float(1 << 60))).alias("u"),
    )
    w = F.lit(len(_POIS_CDF))
    for k in reversed(range(len(_POIS_CDF))):
        w = F.when(F.col("u") < _POIS_CDF[k], F.lit(k)).otherwise(w)
    weighted = reps.select(
        "event_type", "r", w.alias("w"), "v"
    ).filter(F.col("w") > 0)
    means = weighted.groupBy("event_type", "r").agg(
        (
            F.sum(
                (F.col("v") * F.col("w")).cast("decimal(18,4)")
            ).cast("double")
            / F.sum("w")
        ).alias("m")
    )
    def _q(arr, p: float):
        import math as _math

        pp = (replicas - 1) * p
        lo, hi = _math.floor(pp), _math.ceil(pp)
        frac = pp - lo
        return (
            F.element_at(arr, lo + 1)
            + (F.element_at(arr, hi + 1) - F.element_at(arr, lo + 1))
            * F.lit(frac)
        )

    point = ev.groupBy("event_type").agg(
        (
            F.sum(F.col("v").cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1))
        ).alias("point_mean")
    )
    ci = means.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_replicas"),
        F.array_sort(F.collect_list("m")).alias("ms"),
    )
    return (
        point.join(ci, "event_type")
        .select(
            "event_type",
            F.round("point_mean", 6).alias("point_mean"),
            F.round(_q(F.col("ms"), 0.025), 6).alias("ci_lo"),
            F.round(_q(F.col("ms"), 0.975), 6).alias("ci_hi"),
            "n_replicas",
        )
        .orderBy("event_type")
    )


def _boot_sql() -> str:
    from etl_gcp_function_tmabrasil_spark.queries._util import SQL_HASH60

    h = SQL_HASH60.format(
        expr="(CAST(event_id AS VARCHAR) || '#' || CAST(r AS VARCHAR))"
    )
    ladder = f"{len(_POIS_CDF)}"
    for k in reversed(range(len(_POIS_CDF))):
        ladder = f"CASE WHEN u < {_POIS_CDF[k]!r} THEN {k} ELSE {ladder} END"
    n1 = BOOT_REPLICAS - 1
    lo_lo, lo_hi = int(n1 * 0.025), int(n1 * 0.025) + 1
    lo_frac = n1 * 0.025 - int(n1 * 0.025)
    hi_lo, hi_hi = int(n1 * 0.975), int(n1 * 0.975) + 1
    hi_frac = n1 * 0.975 - int(n1 * 0.975)
    return f"""
WITH reps AS (
  SELECT event_type, r, value AS v,
    {h} / {float(1 << 60)!r} AS u
  FROM events, (SELECT UNNEST(generate_series(0, {n1})) AS r) t),
weighted AS (
  SELECT event_type, r, v, {ladder} AS w FROM reps),
means AS (
  SELECT event_type, r,
    CAST(SUM(CAST(v * w AS DECIMAL(18,4))) AS DOUBLE) / SUM(w) AS m
  FROM weighted WHERE w > 0 GROUP BY event_type, r),
point AS (
  SELECT event_type,
    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
      AS point_mean
  FROM events GROUP BY event_type),
ci AS (
  SELECT event_type AS ci_event_type, COUNT(*) AS n_replicas,
    list_sort(list(m)) AS ms
  FROM means GROUP BY event_type)
SELECT point.event_type,
  ROUND(point_mean, 6) AS point_mean,
  ROUND(ms[{lo_lo + 1}] + (ms[{lo_hi + 1}] - ms[{lo_lo + 1}])
        * {lo_frac!r}, 6) AS ci_lo,
  ROUND(ms[{hi_lo + 1}] + (ms[{hi_hi + 1}] - ms[{hi_lo + 1}])
        * {hi_frac!r}, 6) AS ci_hi,
  n_replicas
FROM point JOIN ci ON point.event_type = ci.ci_event_type
ORDER BY point.event_type
"""


QUERIES["stats_bootstrap_ci"] = stats_bootstrap_ci
ORACLE["stats_bootstrap_ci"] = _boot_sql()


# --- Delta-method ratio-metric A/B test (round 12) ---------------------------


def ab_test_ratio_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample z-test for a RATIO metric (value per event) with
    delta-method variance over per-user clusters — the experiment
    readout Welch's t cannot give: when the metric is sum(x)/sum(y)
    per variant and users contribute multiple correlated events,
    event-level variance is wrong (users are the i.i.d. unit, not
    events) and the ratio's variance needs the delta method
    (Deng et al., KDD 2018's practitioner formulation):

        Var(R) ~= (s_xx - 2 R s_xy + R^2 s_yy) / (n * ybar^2)

    over the per-user sums (x_u, y_u). Variants are the deterministic
    user_id parity split, per event type.

    Scale: one per-(type, user) partial aggregation (the natural
    pre-shuffle combine), then one type-sized conditional rollup of
    the five moment sums; the test statistic is row-local arithmetic.
    Exactness: per-user sums and all cross moments accumulate as
    DECIMALS; doubles appear only in the closed-form stats, rounded
    to 6 dp on both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.groupBy("event_type", "user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(18,4)")).alias("x"),
            F.count(F.lit(1)).cast("decimal(18,0)").alias("y"),
        )
        .select(
            "event_type",
            "user_id",
            "x",
            "y",
            (F.col("x") * F.col("x")).cast("decimal(38,8)").alias("xx"),
            (F.col("x") * F.col("y")).cast("decimal(38,8)").alias("xy"),
            (F.col("y") * F.col("y")).cast("decimal(38,0)").alias("yy"),
        )
    )
    va = F.col("user_id") % 2 == 0

    def msum(col, cond, sfx, prec):
        return (
            F.sum(F.when(cond, F.col(col)).cast(prec))
            .cast("double")
            .alias(f"{col}_{sfx}")
        )

    def grp(cond, sfx):
        return [
            F.count(F.when(cond, F.lit(1))).cast("double").alias(f"n_{sfx}"),
            msum("x", cond, sfx, "decimal(38,4)"),
            msum("y", cond, sfx, "decimal(38,0)"),
            msum("xx", cond, sfx, "decimal(38,8)"),
            msum("xy", cond, sfx, "decimal(38,8)"),
            msum("yy", cond, sfx, "decimal(38,0)"),
        ]

    base = per_user.groupBy("event_type").agg(
        *grp(va, "a"), *grp(~va, "b")
    )

    def ratio_var(sfx):
        n = F.col(f"n_{sfx}")
        sx, sy = F.col(f"x_{sfx}"), F.col(f"y_{sfx}")
        sxx, sxy, syy = (
            F.col(f"xx_{sfx}"),
            F.col(f"xy_{sfx}"),
            F.col(f"yy_{sfx}"),
        )
        r = sx / sy
        ybar = sy / n
        s_xx = (n * sxx - sx * sx) / (n * (n - 1))
        s_xy = (n * sxy - sx * sy) / (n * (n - 1))
        s_yy = (n * syy - sy * sy) / (n * (n - 1))
        var = (s_xx - 2 * r * s_xy + r * r * s_yy) / (n * ybar * ybar)
        return n, r, var

    na, ra, vara = ratio_var("a")
    nb, rb, varb = ratio_var("b")
    # n<=1 in either variant makes the sample variance's n*(n-1)
    # denominator zero; engines disagree on double division by zero
    # (r12 ADVICE), so emit NULL z/significant explicitly — mirrored
    # in the oracle's CASE guard.
    valid = (na > F.lit(1.0)) & (nb > F.lit(1.0))
    z = F.when(valid, (ra - rb) / F.sqrt(vara + varb))
    return base.select(
        "event_type",
        na.cast("long").alias("n_users_a"),
        nb.cast("long").alias("n_users_b"),
        F.round(ra, 6).alias("ratio_a"),
        F.round(rb, 6).alias("ratio_b"),
        F.round(ra - rb, 6).alias("diff"),
        F.round(z, 6).alias("z_stat"),
        (F.abs(z) > WELCH_CRIT).alias("significant"),
    ).orderBy("event_type")


_RATIO_DELTA_SQL = f"""
WITH per_user AS (
  SELECT event_type, user_id,
    SUM(CAST(value AS DECIMAL(18,4))) AS x,
    CAST(COUNT(*) AS DECIMAL(18,0)) AS y
  FROM events GROUP BY event_type, user_id
),
m AS (
  SELECT event_type, user_id, x, y,
    CAST(x * x AS DECIMAL(38,8)) AS xx,
    CAST(x * y AS DECIMAL(38,8)) AS xy,
    CAST(y * y AS DECIMAL(38,0)) AS yy
  FROM per_user
),
base AS (
  SELECT event_type,
    CAST(COUNT(*) FILTER (WHERE user_id % 2 = 0) AS DOUBLE) AS n_a,
    CAST(SUM(CAST(x AS DECIMAL(38,4))) FILTER (WHERE user_id % 2 = 0) AS DOUBLE) AS x_a,
    CAST(SUM(CAST(y AS DECIMAL(38,0))) FILTER (WHERE user_id % 2 = 0) AS DOUBLE) AS y_a,
    CAST(SUM(xx) FILTER (WHERE user_id % 2 = 0) AS DOUBLE) AS xx_a,
    CAST(SUM(xy) FILTER (WHERE user_id % 2 = 0) AS DOUBLE) AS xy_a,
    CAST(SUM(yy) FILTER (WHERE user_id % 2 = 0) AS DOUBLE) AS yy_a,
    CAST(COUNT(*) FILTER (WHERE user_id % 2 <> 0) AS DOUBLE) AS n_b,
    CAST(SUM(CAST(x AS DECIMAL(38,4))) FILTER (WHERE user_id % 2 <> 0) AS DOUBLE) AS x_b,
    CAST(SUM(CAST(y AS DECIMAL(38,0))) FILTER (WHERE user_id % 2 <> 0) AS DOUBLE) AS y_b,
    CAST(SUM(xx) FILTER (WHERE user_id % 2 <> 0) AS DOUBLE) AS xx_b,
    CAST(SUM(xy) FILTER (WHERE user_id % 2 <> 0) AS DOUBLE) AS xy_b,
    CAST(SUM(yy) FILTER (WHERE user_id % 2 <> 0) AS DOUBLE) AS yy_b
  FROM m GROUP BY event_type
),
s AS (
  SELECT event_type, n_a, n_b,
    x_a / y_a AS r_a, x_b / y_b AS r_b,
    ((n_a * xx_a - x_a * x_a) / (n_a * (n_a - 1))
      - 2 * (x_a / y_a) * ((n_a * xy_a - x_a * y_a) / (n_a * (n_a - 1)))
      + (x_a / y_a) * (x_a / y_a)
        * ((n_a * yy_a - y_a * y_a) / (n_a * (n_a - 1))))
      / (n_a * (y_a / n_a) * (y_a / n_a)) AS var_a,
    ((n_b * xx_b - x_b * x_b) / (n_b * (n_b - 1))
      - 2 * (x_b / y_b) * ((n_b * xy_b - x_b * y_b) / (n_b * (n_b - 1)))
      + (x_b / y_b) * (x_b / y_b)
        * ((n_b * yy_b - y_b * y_b) / (n_b * (n_b - 1))))
      / (n_b * (y_b / n_b) * (y_b / n_b)) AS var_b
  FROM base
)
SELECT event_type,
  CAST(n_a AS BIGINT) AS n_users_a, CAST(n_b AS BIGINT) AS n_users_b,
  ROUND(r_a, 6) AS ratio_a, ROUND(r_b, 6) AS ratio_b,
  ROUND(r_a - r_b, 6) AS diff,
  CASE WHEN n_a > 1 AND n_b > 1
    THEN ROUND((r_a - r_b) / sqrt(var_a + var_b), 6) END AS z_stat,
  CASE WHEN n_a > 1 AND n_b > 1
    THEN abs((r_a - r_b) / sqrt(var_a + var_b)) > {WELCH_CRIT} END AS significant
FROM s ORDER BY event_type
"""

QUERIES["ab_test_ratio_delta"] = ab_test_ratio_delta
ORACLE["ab_test_ratio_delta"] = _RATIO_DELTA_SQL


# --- Top-k daily behavior paths (round 12) -----------------------------------

PATH_TOPK = 10  #: most frequent (user, day) symbol paths reported


def seq_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k most frequent daily behavior paths — the clickstream
    "common journeys" report: each (user, day) renders its time-ordered
    event-type symbols into one path string (the CEP symbol rendering:
    first letter per event, total (ts, event_id) order), paths are
    counted corpus-wide, and the PATH_TOPK most common are returned
    with share-of-sessions. next_event transition pairs give the
    1st-order Markov view; this is the exact full-path complement.

    Scale: the rendering is one partial-aggregable groupBy over
    (user, day) with per-group bounded arrays (a day's events per
    user); the count rollup is word-count-shaped on path strings; the
    top-k is a K-row limit. Ties rank deterministically on
    (n_sessions DESC, path ASC).
    """
    ev = load_table(spark, sf_dir, "events")
    paths = (
        ev.groupBy(
            "user_id", F.date_format("ts", "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.expr(
                "array_join(transform("
                "array_sort(collect_list(struct(ts, event_id, event_type))),"
                " x -> substring(x.event_type, 1, 1)), '')"
            ).alias("path")
        )
    )
    counted = paths.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_sessions")
    )
    # session total as a broadcast one-row frame (fully lazy — no
    # driver-side count at construction; bench contract)
    total = counted.agg(F.sum("n_sessions").alias("t"))
    # TakeOrdered top-K first (distributed partial top-K per partition,
    # never a global window sort over all distinct paths), THEN the
    # rank window runs over exactly K rows
    top = counted.orderBy(F.desc("n_sessions"), F.asc("path")).limit(
        PATH_TOPK
    )
    w = W.orderBy(F.desc("n_sessions"), F.asc("path"))
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            F.row_number().over(w).alias("rank"),
            "path",
            "n_sessions",
            F.round(F.col("n_sessions") / F.col("t"), 6).alias("share"),
        )
        .orderBy("rank")
    )


_PATH_TOPK_SQL = f"""
WITH paths AS (
  SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
    string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS path
  FROM events GROUP BY user_id, day
),
counted AS (
  SELECT path, COUNT(*) AS n_sessions FROM paths GROUP BY path
),
tot AS (SELECT COUNT(*) AS t FROM paths)
SELECT CAST(rank AS INT) AS rank, path, n_sessions,
  ROUND(n_sessions / CAST(t AS DOUBLE), 6) AS share
FROM (
  SELECT path, n_sessions,
    ROW_NUMBER() OVER (ORDER BY n_sessions DESC, path ASC) AS rank
  FROM counted
) r CROSS JOIN tot
WHERE rank <= {PATH_TOPK}
ORDER BY rank
"""

QUERIES["seq_path_topk"] = seq_path_topk
ORACLE["seq_path_topk"] = _PATH_TOPK_SQL


# --- CUPED variance reduction + difference-in-differences (round 13) ---------
#
# Both experiment estimators share one per-(event_type, user) pre/post
# decimal-sum frame: the experiment period is split at the corpus
# midpoint timestamp (scale-relative — an absolute date would go
# one-sided at other scale factors), users are the i.i.d. unit (the
# ratio-delta/Welch convention), and the variant is the deterministic
# user_id parity split.


def _user_prepost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, user_id): decimal pre/post value sums around
    the global midpoint-of-time split, plus the parity variant flag.
    ONE grouped pass (the natural pre-shuffle combine); the midpoint
    scalar rides in via a one-row broadcast cross join."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        F.unix_timestamp("ts").alias("se"),
        F.col("value").alias("v"),
    )
    bounds = ev.agg(
        F.expr("(min(se) + max(se)) DIV 2").alias("mid_se")
    )
    pre = F.col("se") < F.col("mid_se")
    return (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("event_type", "user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(pre, F.col("v")).cast("decimal(18,4)")),
                F.lit(0).cast("decimal(18,4)"),
            ).alias("x"),
            F.coalesce(
                F.sum(F.when(~pre, F.col("v")).cast("decimal(18,4)")),
                F.lit(0).cast("decimal(18,4)"),
            ).alias("y"),
        )
        .select(
            "event_type",
            "user_id",
            "x",
            "y",
            (F.col("user_id") % 2 == 0).alias("is_a"),
        )
    )


_PREPOST_SQL = """
WITH ev AS (
  SELECT event_type, user_id,
    CAST(FLOOR(epoch(ts)) AS BIGINT) AS se, value AS v
  FROM events
),
bounds AS (SELECT (MIN(se) + MAX(se)) // 2 AS mid_se FROM ev),
pp AS (
  SELECT event_type, user_id,
    COALESCE(SUM(CAST(v AS DECIMAL(18,4))) FILTER (WHERE se < mid_se),
             CAST(0 AS DECIMAL(18,4))) AS x,
    COALESCE(SUM(CAST(v AS DECIMAL(18,4))) FILTER (WHERE se >= mid_se),
             CAST(0 AS DECIMAL(18,4))) AS y,
    user_id % 2 = 0 AS is_a
  FROM ev CROSS JOIN bounds GROUP BY event_type, user_id
)
"""


def ab_test_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM 2013):
    adjust each user's experiment-period metric Y by their
    PRE-experiment covariate X — Y_adj = Y − θ(X − E[X]) with
    θ = cov(X,Y)/var(X) — which leaves the treatment-effect estimate
    unbiased (X predates assignment, so E[X|variant] is equal) while
    shrinking its variance by the squared X↔Y correlation. The
    industry-standard sensitivity lever for online experiments.

    Emits, per event type: the raw and CUPED-adjusted mean differences
    (they agree in expectation; adjusted shown to 6 dp), θ, and the
    achieved variance-reduction ratio 1 − Var_adj/Var_raw of the
    difference estimator.

    Scale: the per-user frame is one grouped pass; everything after is
    ONE event-type-sized conditional rollup of decimal cross-moments
    (n, Σx, Σy, Σxx, Σyy, Σxy per variant — pooled moments are the
    a+b sums, no second scan) and row-local closed forms. θ's
    var(X)=0 / n≤1 edges emit NULL deterministically on both engines.
    """
    pp = _user_prepost(spark, sf_dir)
    pp = pp.select(
        "event_type",
        "is_a",
        "x",
        "y",
        (F.col("x") * F.col("x")).cast("decimal(38,8)").alias("xx"),
        (F.col("x") * F.col("y")).cast("decimal(38,8)").alias("xy"),
        (F.col("y") * F.col("y")).cast("decimal(38,8)").alias("yy"),
    )

    def msums(cond, sfx):
        return [
            F.count(F.when(cond, F.lit(1))).cast("double").alias(f"n_{sfx}"),
            F.sum(F.when(cond, F.col("x")).cast("decimal(38,4)"))
            .cast("double")
            .alias(f"sx_{sfx}"),
            F.sum(F.when(cond, F.col("y")).cast("decimal(38,4)"))
            .cast("double")
            .alias(f"sy_{sfx}"),
            F.sum(F.when(cond, F.col("xx")).cast("decimal(38,8)"))
            .cast("double")
            .alias(f"sxx_{sfx}"),
            F.sum(F.when(cond, F.col("xy")).cast("decimal(38,8)"))
            .cast("double")
            .alias(f"sxy_{sfx}"),
            F.sum(F.when(cond, F.col("yy")).cast("decimal(38,8)"))
            .cast("double")
            .alias(f"syy_{sfx}"),
        ]

    a = F.col("is_a")
    base = pp.groupBy("event_type").agg(*msums(a, "a"), *msums(~a, "b"))

    n_a, n_b = F.col("n_a"), F.col("n_b")
    n = n_a + n_b
    sx = F.col("sx_a") + F.col("sx_b")
    sy = F.col("sy_a") + F.col("sy_b")
    sxx = F.col("sxx_a") + F.col("sxx_b")
    sxy = F.col("sxy_a") + F.col("sxy_b")
    # pooled (biased-denominator-free: the n factors cancel in theta)
    var_x = n * sxx - sx * sx
    cov_xy = n * sxy - sx * sy
    ok = (n_a > 1) & (n_b > 1) & (var_x > 0)
    theta = F.when(ok, cov_xy / var_x)
    mean_x = sx / n

    def per_variant(sfx):
        nn = F.col(f"n_{sfx}")
        mx = F.col(f"sx_{sfx}") / nn
        my = F.col(f"sy_{sfx}") / nn
        vx = (nn * F.col(f"sxx_{sfx}") - F.col(f"sx_{sfx}") ** 2) / (
            nn * (nn - 1)
        )
        vy = (nn * F.col(f"syy_{sfx}") - F.col(f"sy_{sfx}") ** 2) / (
            nn * (nn - 1)
        )
        cxy = (
            nn * F.col(f"sxy_{sfx}")
            - F.col(f"sx_{sfx}") * F.col(f"sy_{sfx}")
        ) / (nn * (nn - 1))
        my_adj = my - theta * (mx - mean_x)
        vy_adj = vy + theta * theta * vx - 2 * theta * cxy
        return nn, my, my_adj, vy, vy_adj

    na_, mya, mya_adj, vya, vya_adj = per_variant("a")
    nb_, myb, myb_adj, vyb, vyb_adj = per_variant("b")
    var_raw = vya / na_ + vyb / nb_
    var_adj = vya_adj / na_ + vyb_adj / nb_
    return base.select(
        "event_type",
        na_.cast("long").alias("n_users_a"),
        nb_.cast("long").alias("n_users_b"),
        F.round(theta, 6).alias("theta"),
        F.round(mya - myb, 6).alias("diff_raw"),
        F.round(mya_adj - myb_adj, 6).alias("diff_cuped"),
        F.round(F.when(ok, F.lit(1) - var_adj / var_raw), 6).alias(
            "var_reduction"
        ),
    ).orderBy("event_type")


_CUPED_SQL = (
    _PREPOST_SQL
    + """,
m AS (
  SELECT event_type, is_a, x, y,
    CAST(x * x AS DECIMAL(38,8)) AS xx,
    CAST(x * y AS DECIMAL(38,8)) AS xy,
    CAST(y * y AS DECIMAL(38,8)) AS yy
  FROM pp
),
base AS (
  SELECT event_type,
    CAST(COUNT(*) FILTER (WHERE is_a) AS DOUBLE) AS n_a,
    CAST(SUM(CAST(x AS DECIMAL(38,4))) FILTER (WHERE is_a) AS DOUBLE) AS sx_a,
    CAST(SUM(CAST(y AS DECIMAL(38,4))) FILTER (WHERE is_a) AS DOUBLE) AS sy_a,
    CAST(SUM(xx) FILTER (WHERE is_a) AS DOUBLE) AS sxx_a,
    CAST(SUM(xy) FILTER (WHERE is_a) AS DOUBLE) AS sxy_a,
    CAST(SUM(yy) FILTER (WHERE is_a) AS DOUBLE) AS syy_a,
    CAST(COUNT(*) FILTER (WHERE NOT is_a) AS DOUBLE) AS n_b,
    CAST(SUM(CAST(x AS DECIMAL(38,4))) FILTER (WHERE NOT is_a) AS DOUBLE) AS sx_b,
    CAST(SUM(CAST(y AS DECIMAL(38,4))) FILTER (WHERE NOT is_a) AS DOUBLE) AS sy_b,
    CAST(SUM(xx) FILTER (WHERE NOT is_a) AS DOUBLE) AS sxx_b,
    CAST(SUM(xy) FILTER (WHERE NOT is_a) AS DOUBLE) AS sxy_b,
    CAST(SUM(yy) FILTER (WHERE NOT is_a) AS DOUBLE) AS syy_b
  FROM m GROUP BY event_type
),
s AS (
  SELECT *,
    n_a + n_b AS n, sx_a + sx_b AS sx, sy_a + sy_b AS sy,
    sxx_a + sxx_b AS sxx, sxy_a + sxy_b AS sxy,
    n_a > 1 AND n_b > 1
      AND (n_a + n_b) * (sxx_a + sxx_b) - (sx_a + sx_b) * (sx_a + sx_b) > 0
      AS ok
  FROM base
),
t AS (
  SELECT *,
    CASE WHEN ok THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS theta,
    sx / n AS mean_x
  FROM s
),
v AS (
  SELECT event_type, n_a, n_b, theta, ok,
    sy_a / n_a AS my_a, sy_b / n_b AS my_b,
    (sy_a / n_a - theta * (sx_a / n_a - mean_x))
      - (sy_b / n_b - theta * (sx_b / n_b - mean_x)) AS diff_cuped,
    ((n_a * syy_a - sy_a * sy_a) / (n_a * (n_a - 1))) / n_a
      + ((n_b * syy_b - sy_b * sy_b) / (n_b * (n_b - 1))) / n_b AS var_raw,
    ((n_a * syy_a - sy_a * sy_a) / (n_a * (n_a - 1))
      + theta * theta * ((n_a * sxx_a - sx_a * sx_a) / (n_a * (n_a - 1)))
      - 2 * theta * ((n_a * sxy_a - sx_a * sy_a) / (n_a * (n_a - 1)))) / n_a
    + ((n_b * syy_b - sy_b * sy_b) / (n_b * (n_b - 1))
      + theta * theta * ((n_b * sxx_b - sx_b * sx_b) / (n_b * (n_b - 1)))
      - 2 * theta * ((n_b * sxy_b - sx_b * sy_b) / (n_b * (n_b - 1)))) / n_b
      AS var_adj
  FROM t
)
SELECT event_type,
  CAST(n_a AS BIGINT) AS n_users_a, CAST(n_b AS BIGINT) AS n_users_b,
  ROUND(theta, 6) AS theta,
  ROUND(my_a - my_b, 6) AS diff_raw,
  ROUND(diff_cuped, 6) AS diff_cuped,
  ROUND(CASE WHEN ok THEN 1 - var_adj / var_raw END, 6) AS var_reduction
FROM v ORDER BY event_type
"""
)

QUERIES["ab_test_cuped"] = ab_test_cuped
ORACLE["ab_test_cuped"] = _CUPED_SQL


def ab_test_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator per event type (Card &
    Krueger's two-group/two-period design): effect = (ȳ_B,post −
    ȳ_B,pre) − (ȳ_A,post − ȳ_A,pre), inference clustered at the USER
    level — each user contributes one pre/post difference d = y − x,
    so DiD = d̄_B − d̄_A with a plain two-sample z on the per-user
    diffs. This is the panel-robust formulation (event-level variance
    would understate SEs exactly the way the ratio-delta docstring
    describes).

    Scale: reuses the shared per-(type, user) pre/post frame (one
    grouped pass) and one event-type-sized conditional moments rollup;
    test statistics are row-local. n≤1 edges emit NULL z/significant
    on both engines.
    """
    pp = _user_prepost(spark, sf_dir)
    d = (F.col("y") - F.col("x")).cast("decimal(19,4)")
    pp = pp.select(
        "event_type",
        "is_a",
        d.alias("d"),
        (d * d).cast("decimal(38,8)").alias("dd"),
    )

    def msums(cond, sfx):
        return [
            F.count(F.when(cond, F.lit(1))).cast("double").alias(f"n_{sfx}"),
            F.sum(F.when(cond, F.col("d")).cast("decimal(38,4)"))
            .cast("double")
            .alias(f"sd_{sfx}"),
            F.sum(F.when(cond, F.col("dd")).cast("decimal(38,8)"))
            .cast("double")
            .alias(f"sdd_{sfx}"),
        ]

    a = F.col("is_a")
    base = pp.groupBy("event_type").agg(*msums(a, "a"), *msums(~a, "b"))

    def stats(sfx):
        nn = F.col(f"n_{sfx}")
        sd = F.col(f"sd_{sfx}")
        sdd = F.col(f"sdd_{sfx}")
        return nn, sd / nn, (nn * sdd - sd * sd) / (nn * (nn - 1))

    na, mda, vda = stats("a")
    nb, mdb, vdb = stats("b")
    ok = (na > 1) & (nb > 1)
    did = mdb - mda
    z = F.when(ok, did / F.sqrt(vda / na + vdb / nb))
    return base.select(
        "event_type",
        na.cast("long").alias("n_users_a"),
        nb.cast("long").alias("n_users_b"),
        F.round(mda, 6).alias("mean_diff_a"),
        F.round(mdb, 6).alias("mean_diff_b"),
        F.round(did, 6).alias("did"),
        F.round(z, 6).alias("z_stat"),
        (F.abs(z) > WELCH_CRIT).alias("significant"),
    ).orderBy("event_type")


_DID_SQL = (
    _PREPOST_SQL
    + f""",
m AS (
  SELECT event_type, is_a,
    CAST(y - x AS DECIMAL(19,4)) AS d,
    CAST(CAST(y - x AS DECIMAL(19,4)) * CAST(y - x AS DECIMAL(19,4))
         AS DECIMAL(38,8)) AS dd
  FROM pp
),
base AS (
  SELECT event_type,
    CAST(COUNT(*) FILTER (WHERE is_a) AS DOUBLE) AS n_a,
    CAST(SUM(CAST(d AS DECIMAL(38,4))) FILTER (WHERE is_a) AS DOUBLE) AS sd_a,
    CAST(SUM(dd) FILTER (WHERE is_a) AS DOUBLE) AS sdd_a,
    CAST(COUNT(*) FILTER (WHERE NOT is_a) AS DOUBLE) AS n_b,
    CAST(SUM(CAST(d AS DECIMAL(38,4))) FILTER (WHERE NOT is_a) AS DOUBLE) AS sd_b,
    CAST(SUM(dd) FILTER (WHERE NOT is_a) AS DOUBLE) AS sdd_b
  FROM m GROUP BY event_type
),
s AS (
  SELECT event_type, n_a, n_b,
    sd_a / n_a AS md_a, sd_b / n_b AS md_b,
    (n_a * sdd_a - sd_a * sd_a) / (n_a * (n_a - 1)) AS vd_a,
    (n_b * sdd_b - sd_b * sd_b) / (n_b * (n_b - 1)) AS vd_b,
    n_a > 1 AND n_b > 1 AS ok
  FROM base
)
SELECT event_type,
  CAST(n_a AS BIGINT) AS n_users_a, CAST(n_b AS BIGINT) AS n_users_b,
  ROUND(md_a, 6) AS mean_diff_a, ROUND(md_b, 6) AS mean_diff_b,
  ROUND(md_b - md_a, 6) AS did,
  CASE WHEN ok THEN
    ROUND((md_b - md_a) / sqrt(vd_a / n_a + vd_b / n_b), 6) END AS z_stat,
  CASE WHEN ok THEN
    abs((md_b - md_a) / sqrt(vd_a / n_a + vd_b / n_b)) > {WELCH_CRIT}
  END AS significant
FROM s ORDER BY event_type
"""
)

QUERIES["ab_test_did"] = ab_test_did
ORACLE["ab_test_did"] = _DID_SQL


# --- Period-over-period growth + forecast backtesting (round 13) -------------


def _daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day exact-decimal order revenue keyed by DATE (shared by the
    PoP growth and backtest operators). One grouped pass, PERSISTED:
    both consumers self-join it 2-3 times, and without the persist
    each alias re-runs the full orders scan — the frame itself is only
    days-sized."""
    from etl_gcp_function_tmabrasil_spark.queries._util import managed_persist

    odr = load_table(spark, sf_dir, "orders")
    return managed_persist(
        odr.groupBy(F.to_date("o_orderdate").alias("day")).agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
        ),
        "analytics._daily_revenue",
    )


_DAILY_REV_SQL = """
WITH rev AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1
)
"""


def period_over_period_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day and week-over-week revenue growth — the standard
    BI trend readout. Prior values come from EXACT-date self-joins on
    day−1 / day−7 (calendar-aligned; a LAG window would silently
    compare against the previous PRESENT day across gaps, and a
    global-order window funnels all days into one task): missing
    prior date → NULL growth, zero prior → NULL (guarded identically
    in both engines).

    Scale: the daily frame is one grouped pass; the two self-joins
    shuffle on the date key only (days-sized frames, years ≪ rows).
    Growth doubles are rounded 6 dp; revenue stays decimal-exact
    until the final double render.
    """
    rev = _daily_revenue(spark, sf_dir)
    cur = rev.alias("c")
    d1 = rev.select(
        F.date_add("day", 1).alias("day"), F.col("rev").alias("rev_d1")
    ).alias("p1")
    d7 = rev.select(
        F.date_add("day", 7).alias("day"), F.col("rev").alias("rev_d7")
    ).alias("p7")

    def growth(prev):
        # subtract in DECIMAL (exact), divide in DOUBLE — Spark's
        # decimal-division scale rules would otherwise truncate at a
        # different digit than the oracle's double division
        return F.when(
            prev.isNotNull() & (prev > 0),
            (F.col("c.rev") - prev).cast("double") / prev.cast("double"),
        )

    return (
        cur.join(d1, "day", "left")
        .join(d7, "day", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("c.rev").cast("double").alias("revenue"),
            F.round(growth(F.col("rev_d1")), 6).alias("dod_growth"),
            F.round(growth(F.col("rev_d7")), 6).alias("wow_growth"),
        )
        .orderBy("day")
    )


_POP_SQL = (
    _DAILY_REV_SQL
    + """
SELECT strftime(c.day, '%Y-%m-%d') AS day,
  CAST(c.rev AS DOUBLE) AS revenue,
  ROUND(CASE WHEN p1.rev > 0 THEN
    CAST(c.rev - p1.rev AS DOUBLE) / CAST(p1.rev AS DOUBLE) END, 6)
    AS dod_growth,
  ROUND(CASE WHEN p7.rev > 0 THEN
    CAST(c.rev - p7.rev AS DOUBLE) / CAST(p7.rev AS DOUBLE) END, 6)
    AS wow_growth
FROM rev c
LEFT JOIN rev p1 ON c.day = p1.day + 1
LEFT JOIN rev p7 ON c.day = p7.day + 7
ORDER BY day
"""
)

QUERIES["period_over_period_growth"] = period_over_period_growth
ORACLE["period_over_period_growth"] = _POP_SQL


def forecast_backtest_smape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest of the two forecasting BASELINES every
    real model must beat (Hyndman & Athanasopoulos, FPP: "a model
    that can't beat the naive methods is not a model"): naive
    (ŷ_t = y_{t−1}) and seasonal-naive (ŷ_t = y_{t−7}), scored by
    monthly sMAPE = mean(2·|ŷ−y| / (|ŷ|+|y|)) — the scale-free
    error metric of the M-competitions.

    Scale: exact-date self-joins produce (actual, forecast) pairs
    (shuffle on the date key, days-sized), then one month-sized
    rollup per method; only days whose reference date exists are
    scored (inner join — the honest backtest convention).
    """
    rev = _daily_revenue(spark, sf_dir)

    def method(offset: int, name: str) -> DataFrame:
        fc = rev.select(
            F.date_add("day", offset).alias("day"),
            F.col("rev").alias("fc"),
        )
        return (
            rev.join(fc, "day")
            .select(
                F.lit(name).alias("method"),
                F.date_format("day", "yyyy-MM").alias("month"),
                (
                    F.lit(2)
                    * F.abs(F.col("fc") - F.col("rev")).cast("double")
                    / (
                        F.abs(F.col("fc")).cast("double")
                        + F.abs(F.col("rev")).cast("double")
                    )
                ).alias("ape"),
            )
        )

    scored = method(1, "naive").unionByName(method(7, "seasonal_naive"))
    return (
        scored.groupBy("method", "month")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(F.avg("ape"), 6).alias("smape"),
        )
        .orderBy("method", "month")
    )


_BACKTEST_SQL = (
    _DAILY_REV_SQL
    + """,
scored AS (
  SELECT 'naive' AS method, strftime(a.day, '%Y-%m') AS month,
    2 * CAST(abs(f.rev - a.rev) AS DOUBLE)
      / (CAST(abs(f.rev) AS DOUBLE) + CAST(abs(a.rev) AS DOUBLE)) AS ape
  FROM rev a JOIN rev f ON a.day = f.day + 1
  UNION ALL
  SELECT 'seasonal_naive' AS method, strftime(a.day, '%Y-%m') AS month,
    2 * CAST(abs(f.rev - a.rev) AS DOUBLE)
      / (CAST(abs(f.rev) AS DOUBLE) + CAST(abs(a.rev) AS DOUBLE)) AS ape
  FROM rev a JOIN rev f ON a.day = f.day + 7
)
SELECT method, month, COUNT(*) AS n_days, ROUND(AVG(ape), 6) AS smape
FROM scored GROUP BY method, month
ORDER BY method, month
"""
)

QUERIES["forecast_backtest_smape"] = forecast_backtest_smape
ORACLE["forecast_backtest_smape"] = _BACKTEST_SQL


# --- Power analysis / minimum detectable effect (round 13) -------------------

Z_ALPHA2 = 1.959964  #: two-sided alpha = 0.05
Z_BETA = 0.841621  #: power = 0.80
MDE_REL_TARGET = 0.01  #: the "how long must we run for 1%?" readout


def stats_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power analysis per event type — the question every
    A/B test answers BEFORE it runs (the standard two-sample normal
    approximation, e.g. van Belle's rule of thumb): with the observed
    per-user metric variance and current traffic, the minimum
    detectable effect at alpha=0.05 / power=0.8 is
    MDE = (z_{a/2} + z_b) * s * sqrt(1/n_a + 1/n_b), and the sample
    size needed PER ARM to detect a 1% lift of the mean is
    n = 2 * (z_{a/2} + z_b)^2 * s^2 / (0.01 * mean)^2.

    Built on the same i.i.d.-unit discipline as Welch/CUPED: the unit
    is the per-user value sum, variance is the pooled per-user sample
    variance, and everything reduces to ONE event-type-sized
    conditional moments rollup over the per-(type, user) frame with
    row-local closed forms. n<=1 / zero-variance / zero-mean edges
    emit NULL deterministically on both engines.
    """
    per_user = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(F.sum(F.col("value").cast("decimal(18,4)")).alias("y"))
        .select(
            "event_type",
            (F.col("user_id") % 2 == 0).alias("is_a"),
            "y",
            (F.col("y") * F.col("y")).cast("decimal(38,8)").alias("yy"),
        )
    )
    a = F.col("is_a")
    base = per_user.groupBy("event_type").agg(
        F.count(F.when(a, F.lit(1))).cast("double").alias("n_a"),
        F.count(F.when(~a, F.lit(1))).cast("double").alias("n_b"),
        F.sum(F.col("y").cast("decimal(38,4)")).cast("double").alias("sy"),
        F.sum("yy").cast("double").alias("syy"),
    )
    n = F.col("n_a") + F.col("n_b")
    mean = F.col("sy") / n
    var = (n * F.col("syy") - F.col("sy") * F.col("sy")) / (n * (n - 1))
    z = F.lit(Z_ALPHA2 + Z_BETA)
    ok = (F.col("n_a") > 1) & (F.col("n_b") > 1) & (var > 0) & (mean != 0)
    mde_abs = F.when(
        ok, z * F.sqrt(var) * F.sqrt(1 / F.col("n_a") + 1 / F.col("n_b"))
    )
    n_per_arm = F.when(
        ok,
        F.ceil(
            F.lit(2.0) * z * z * var / (F.lit(MDE_REL_TARGET) * mean) ** 2
        ).cast("long"),
    )
    return base.select(
        "event_type",
        F.col("n_a").cast("long").alias("n_users_a"),
        F.col("n_b").cast("long").alias("n_users_b"),
        F.round(mean, 6).alias("mean_y"),
        F.round(F.when(ok, F.sqrt(var)), 6).alias("sd_y"),
        F.round(mde_abs, 6).alias("mde_abs"),
        F.round(mde_abs / mean, 6).alias("mde_rel"),
        n_per_arm.alias("n_per_arm_1pct"),
    ).orderBy("event_type")


_POWER_SQL = f"""
WITH per_user AS (
  SELECT event_type, user_id % 2 = 0 AS is_a,
    SUM(CAST(value AS DECIMAL(18,4))) AS y
  FROM events GROUP BY event_type, user_id
),
m AS (
  SELECT event_type, is_a, y,
    CAST(y * y AS DECIMAL(38,8)) AS yy
  FROM per_user
),
base AS (
  SELECT event_type,
    CAST(COUNT(*) FILTER (WHERE is_a) AS DOUBLE) AS n_a,
    CAST(COUNT(*) FILTER (WHERE NOT is_a) AS DOUBLE) AS n_b,
    CAST(SUM(CAST(y AS DECIMAL(38,4))) AS DOUBLE) AS sy,
    CAST(SUM(yy) AS DOUBLE) AS syy
  FROM m GROUP BY event_type
),
s AS (
  SELECT event_type, n_a, n_b,
    sy / (n_a + n_b) AS mean,
    ((n_a + n_b) * syy - sy * sy) / ((n_a + n_b) * (n_a + n_b - 1)) AS var,
    n_a > 1 AND n_b > 1
      AND ((n_a + n_b) * syy - sy * sy) > 0
      AND sy <> 0 AS ok
  FROM base
)
SELECT event_type,
  CAST(n_a AS BIGINT) AS n_users_a, CAST(n_b AS BIGINT) AS n_users_b,
  ROUND(mean, 6) AS mean_y,
  ROUND(CASE WHEN ok THEN sqrt(var) END, 6) AS sd_y,
  ROUND(CASE WHEN ok THEN
    {Z_ALPHA2 + Z_BETA} * sqrt(var) * sqrt(1 / n_a + 1 / n_b) END, 6)
    AS mde_abs,
  ROUND(CASE WHEN ok THEN
    {Z_ALPHA2 + Z_BETA} * sqrt(var) * sqrt(1 / n_a + 1 / n_b) / mean END, 6)
    AS mde_rel,
  CASE WHEN ok THEN CAST(CEIL(
    2.0 * {Z_ALPHA2 + Z_BETA} * {Z_ALPHA2 + Z_BETA} * var
    / (({MDE_REL_TARGET} * mean) * ({MDE_REL_TARGET} * mean))) AS BIGINT)
  END AS n_per_arm_1pct
FROM s ORDER BY event_type
"""

QUERIES["stats_power_mde"] = stats_power_mde
ORACLE["stats_power_mde"] = _POWER_SQL


# --- Split-conformal prediction intervals (round 13) -------------------------

CONF_ALPHA = 0.1  #: 90% intervals
CONF_BAND_W = 10.0  #: residual band width for the banded rank selection


def conformal_interval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals per event type (Vovk's
    inductive conformal; Papadopoulos et al. 2002; Lei et al. 2018
    formulation): fit a predictor on a TRAIN split (per-type decimal
    mean, even users), take the ⌈(1−α)(n_cal+1)⌉-th smallest absolute
    residual on the disjoint CALIBRATION split (odd users) as the
    interval half-width q, and report the finite-sample-valid interval
    ŷ ± q with its achieved calibration coverage (≥ 1−α by the
    conformal guarantee, exchangeability assumed).

    The order statistic is selected EXACTLY without any per-group sort
    or buffering, with the banded-rank pattern (operators/quantiles):
    one pass builds per-(type, band) counts, a prefix-sum window over
    the BAND table (band-count-sized, never row-sized) locates the
    target band, and only that band's rows re-scan and rank. The
    conformal rank k = ceil((1−α)(n+1)) is PER-GROUP data (clamped to
    n_cal), which is why this inlines the pattern instead of calling
    banded_exact_quantiles (constant-p interpolated ranks).

    Exactness: ŷ is rounded to 6 dp before residuals on both engines,
    so every residual double is bit-identical; the k-th VALUE is
    well-defined under ties regardless of row order.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        (F.col("user_id") % 2 == 0).alias("is_train"),
        F.col("value").alias("v"),
    )
    from etl_gcp_function_tmabrasil_spark.queries._util import managed_persist

    yhat = (
        ev.filter("is_train")
        .groupBy("event_type")
        .agg(
            F.round(
                F.sum(F.col("v").cast("decimal(18,4)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("yhat"),
            F.count(F.lit(1)).alias("n_train"),
        )
    )
    cal = (
        ev.filter(~F.col("is_train"))
        .join(F.broadcast(yhat), "event_type")
        .select(
            "event_type",
            "yhat",
            "n_train",
            F.abs(F.col("v") - F.col("yhat")).alias("r"),
        )
    )
    d = cal.select(
        "event_type",
        "r",
        F.floor(F.col("r") / CONF_BAND_W).cast("long").alias("band"),
    )
    # band table: counts + prefix offsets (band-count-sized windows)
    bc = managed_persist(
        d.groupBy("event_type", "band").agg(F.count(F.lit(1)).alias("n_band")),
        "conformal.bands",
    )
    w_off = (
        W.partitionBy("event_type")
        .orderBy("band")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    bands = bc.withColumn(
        "offset", F.coalesce(F.sum("n_band").over(w_off), F.lit(0))
    )
    totals = bc.groupBy("event_type").agg(F.sum("n_band").alias("n_cal"))
    # conformal rank (1-based), clamped to n_cal for tiny groups
    needed = totals.select(
        "event_type",
        "n_cal",
        F.least(
            F.ceil(F.lit(1 - CONF_ALPHA) * (F.col("n_cal") + 1)).cast("long"),
            F.col("n_cal"),
        ).alias("k"),
    )
    target = (
        bands.join(F.broadcast(needed), "event_type")
        .filter(
            (F.col("k") > F.col("offset"))
            & (F.col("k") <= F.col("offset") + F.col("n_band"))
        )
        .select("event_type", "band", "offset", "k")
    )
    w_in = W.partitionBy("event_type", "band").orderBy("r")
    q = (
        d.join(F.broadcast(target), ["event_type", "band"])
        .withColumn("rk", F.col("offset") + F.row_number().over(w_in))
        .filter(F.col("rk") == F.col("k"))
        .select("event_type", F.round("r", 6).alias("q"))
    )
    cov = (
        cal.join(F.broadcast(q), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_cal"),
            F.max("yhat").alias("yhat"),
            F.max("n_train").alias("n_train"),
            F.max("q").alias("qv"),
            F.round(
                F.count(F.when(F.col("r") <= F.round(F.col("q"), 6), F.lit(1)))
                / F.count(F.lit(1)),
                6,
            ).alias("coverage"),
        )
    )
    return cov.select(
        "event_type",
        "n_train",
        "n_cal",
        F.round("yhat", 6).alias("yhat"),
        F.col("qv").alias("q90"),
        F.round(F.col("yhat") - F.col("qv"), 6).alias("lo"),
        F.round(F.col("yhat") + F.col("qv"), 6).alias("hi"),
        "coverage",
        (F.col("coverage") >= F.lit(1 - CONF_ALPHA)).alias("valid"),
    ).orderBy("event_type")


_CONFORMAL_SQL = f"""
WITH ev AS (
  SELECT event_type, user_id % 2 = 0 AS is_train, value AS v
  FROM events
),
yhat AS (
  SELECT event_type,
    ROUND(CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6)
      AS yhat,
    COUNT(*) AS n_train
  FROM ev WHERE is_train GROUP BY event_type
),
cal AS (
  SELECT e.event_type, y.yhat, y.n_train, abs(e.v - y.yhat) AS r
  FROM ev e JOIN yhat y ON e.event_type = y.event_type
  WHERE NOT e.is_train
),
tot AS (SELECT event_type, COUNT(*) AS n_cal FROM cal GROUP BY event_type),
kk AS (
  SELECT event_type, n_cal,
    LEAST(CAST(CEIL({1 - CONF_ALPHA} * (n_cal + 1)) AS BIGINT), n_cal) AS k
  FROM tot
),
q AS (
  SELECT event_type, ROUND(r, 6) AS q FROM (
    SELECT c.event_type, c.r,
      ROW_NUMBER() OVER (PARTITION BY c.event_type ORDER BY c.r) AS rk,
      kk.k
    FROM cal c JOIN kk ON c.event_type = kk.event_type
  ) t WHERE rk = k
)
SELECT c.event_type,
  MAX(c.n_train) AS n_train,
  COUNT(*) AS n_cal,
  ROUND(MAX(c.yhat), 6) AS yhat,
  MAX(q.q) AS q90,
  ROUND(MAX(c.yhat) - MAX(q.q), 6) AS lo,
  ROUND(MAX(c.yhat) + MAX(q.q), 6) AS hi,
  ROUND(COUNT(*) FILTER (WHERE c.r <= q.q) / CAST(COUNT(*) AS DOUBLE), 6)
    AS coverage,
  ROUND(COUNT(*) FILTER (WHERE c.r <= q.q) / CAST(COUNT(*) AS DOUBLE), 6)
    >= {1 - CONF_ALPHA} AS valid
FROM cal c JOIN q ON c.event_type = q.event_type
GROUP BY c.event_type ORDER BY c.event_type
"""

QUERIES["conformal_interval_split"] = conformal_interval_split
ORACLE["conformal_interval_split"] = _CONFORMAL_SQL


# --- Always-valid sequential testing: mSPRT (round 14) ------------------------

TAU2_MSPRT = 25.0  #: normal mixing variance τ² — sized to the per-event
#: value scale (sd ≈ 30, so τ = 5 targets MDE-sized effects; Johari et
#: al. recommend matching τ to the effect sizes worth detecting).
MSPRT_ALPHA = 0.05  #: always-valid rejection level


def stats_sequential_msprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid sequential A/B readout per (event_type, day) — the
    mixture SPRT of Johari, Koomen, Pekelis & Walsh ("Peeking at A/B
    Tests", KDD 2017): with the normal mixing prior N(0, τ²) over the
    effect, the likelihood-ratio martingale against H0: Δ=0 has the
    closed form

        Λ_n = sqrt(V_n / (V_n + τ²)) ·
              exp( Δ̂_n² τ² / (2 V_n (V_n + τ²)) )

    where Δ̂_n is the observed mean difference through day n and
    V_n = s²_n (1/n_A + 1/n_B) its estimated variance. The ALWAYS-VALID
    p-value is p_n = min(1, min_{t<=n} 1/Λ_t) — monotone, and valid at
    EVERY peek, which is the question an experimenter asks right after
    :func:`stats_power_mde`: "can I look mid-run?". Arms are the same
    deterministic user-parity A/A split as the CUPED/DiD family, so a
    correct implementation should (and does) never reject.

    Scale: one per-(type, day, arm) moments rollup (decimal sums — the
    only corpus-sized pass), a days-deep cumulative window per type
    (calendar-sized state), then row-local closed forms; the running
    min that makes p monotone is a second calendar-sized window. Both
    engines round log Λ to 6 dp BEFORE the running extremum so libm
    ulp drift can never flip which day attains it. n<=1 per arm or
    zero variance emit NULL (MIN/MAX skip NULLs identically in both
    engines).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        day("ts").alias("d"),
        (F.col("user_id") % 2 == 0).alias("is_a"),
        F.col("value").alias("v"),
    )
    a = F.col("is_a")
    daily = ev.groupBy("event_type", "d").agg(
        F.count(F.when(a, F.lit(1))).alias("dn_a"),
        F.count(F.when(~a, F.lit(1))).alias("dn_b"),
        F.sum(F.when(a, F.col("v")).cast("decimal(18,4)")).alias("ds_a"),
        F.sum(F.when(~a, F.col("v")).cast("decimal(18,4)")).alias("ds_b"),
        F.sum(
            (F.col("v") * F.col("v")).cast("decimal(38,8)")
        ).alias("dss"),
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = daily.select(
        "event_type",
        "d",
        F.sum("dn_a").over(w).cast("double").alias("n_a"),
        F.sum("dn_b").over(w).cast("double").alias("n_b"),
        F.sum("ds_a").over(w).cast("double").alias("s_a"),
        F.sum("ds_b").over(w).cast("double").alias("s_b"),
        F.sum("dss").over(w).cast("double").alias("ss"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    ma, mb = F.col("s_a") / na, F.col("s_b") / nb
    # pooled two-sample variance from cumulative moments
    var = (F.col("ss") - na * ma * ma - nb * mb * mb) / (na + nb - 2)
    ok = (na > 1) & (nb > 1) & (var > 0)
    delta = ma - mb
    vn = var * (1 / na + 1 / nb)
    t2 = F.lit(TAU2_MSPRT)
    log_lam = F.round(
        F.lit(0.5) * F.log(vn / (vn + t2))
        + delta * delta * t2 / (F.lit(2.0) * vn * (vn + t2)),
        6,
    )
    scored = cum.select(
        "event_type",
        "d",
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        F.when((na > 0) & (nb > 0), F.round(delta, 6)).alias("delta"),
        F.when(ok, log_lam).alias("log_lambda"),
    )
    wmax = (
        W.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    run = F.max("log_lambda").over(wmax)
    p = F.round(F.least(F.lit(1.0), F.exp(-run)), 6)
    return scored.select(
        "event_type",
        "d",
        "n_a",
        "n_b",
        "delta",
        "log_lambda",
        p.alias("p_always_valid"),
        # p is never NULL: least(1.0, x) skips NULL x on BOTH engines,
        # so pre-informative days read p=1 (the always-valid p starts
        # at 1 by definition) and reject is a total boolean
        (p <= F.lit(MSPRT_ALPHA)).alias("reject"),
    ).orderBy("event_type", "d")


_MSPRT_SQL = f"""
WITH daily AS (
  SELECT event_type, STRFTIME(ts, '%Y-%m-%d') AS d,
    COUNT(*) FILTER (WHERE user_id % 2 = 0) AS dn_a,
    COUNT(*) FILTER (WHERE user_id % 2 <> 0) AS dn_b,
    SUM(CAST(value AS DECIMAL(18,4))) FILTER (WHERE user_id % 2 = 0) AS ds_a,
    SUM(CAST(value AS DECIMAL(18,4))) FILTER (WHERE user_id % 2 <> 0) AS ds_b,
    SUM(CAST(value * value AS DECIMAL(38,8))) AS dss
  FROM events GROUP BY 1, 2
),
cum AS (
  SELECT event_type, d,
    CAST(SUM(dn_a) OVER w AS DOUBLE) AS n_a,
    CAST(SUM(dn_b) OVER w AS DOUBLE) AS n_b,
    CAST(SUM(ds_a) OVER w AS DOUBLE) AS s_a,
    CAST(SUM(ds_b) OVER w AS DOUBLE) AS s_b,
    CAST(SUM(dss) OVER w AS DOUBLE) AS ss
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY d
               ROWS UNBOUNDED PRECEDING)
),
scored AS (
  SELECT event_type, d,
    CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
    CASE WHEN n_a > 0 AND n_b > 0
      THEN ROUND(s_a / n_a - s_b / n_b, 6) END AS delta,
    CASE WHEN n_a > 1 AND n_b > 1
      AND (ss - n_a * (s_a/n_a) * (s_a/n_a)
              - n_b * (s_b/n_b) * (s_b/n_b)) / (n_a + n_b - 2) > 0
    THEN ROUND(
      0.5 * LN(
        ((ss - n_a*(s_a/n_a)*(s_a/n_a) - n_b*(s_b/n_b)*(s_b/n_b))
          / (n_a + n_b - 2) * (1/n_a + 1/n_b))
        / ((ss - n_a*(s_a/n_a)*(s_a/n_a) - n_b*(s_b/n_b)*(s_b/n_b))
          / (n_a + n_b - 2) * (1/n_a + 1/n_b) + {TAU2_MSPRT}))
      + (s_a/n_a - s_b/n_b) * (s_a/n_a - s_b/n_b) * {TAU2_MSPRT}
        / (2.0
           * ((ss - n_a*(s_a/n_a)*(s_a/n_a) - n_b*(s_b/n_b)*(s_b/n_b))
              / (n_a + n_b - 2) * (1/n_a + 1/n_b))
           * ((ss - n_a*(s_a/n_a)*(s_a/n_a) - n_b*(s_b/n_b)*(s_b/n_b))
              / (n_a + n_b - 2) * (1/n_a + 1/n_b) + {TAU2_MSPRT})), 6)
    END AS log_lambda
  FROM cum
)
SELECT event_type, d, n_a, n_b, delta, log_lambda,
  ROUND(LEAST(1.0, EXP(-MAX(log_lambda) OVER
    (PARTITION BY event_type ORDER BY d ROWS UNBOUNDED PRECEDING))), 6)
    AS p_always_valid,
  ROUND(LEAST(1.0, EXP(-MAX(log_lambda) OVER
    (PARTITION BY event_type ORDER BY d ROWS UNBOUNDED PRECEDING))), 6)
    <= {MSPRT_ALPHA} AS reject
FROM scored ORDER BY event_type, d
"""

QUERIES["stats_sequential_msprt"] = stats_sequential_msprt
ORACLE["stats_sequential_msprt"] = _MSPRT_SQL


# --- Probability calibration: reliability bins + Brier decomposition ---------

CALIB_BINS = 9  #: forecast support: p̂ ∈ {0.15, 0.25, …, 0.95}


def model_calibration_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + exact Murphy (1973) Brier decomposition
    for a deterministic activity-based conversion forecaster: the unit
    is a (user, day) pair, the outcome o is "had a purchase that day",
    and the forecast is the discrete monotone rule
    p̂ = min(n_events, 9)/10 + 0.05 (profiled against this corpus: the
    observed per-count conversion rates run 0.21 → 0.86, so the rule
    is deliberately imperfectly calibrated — the readout has signal).
    Because the forecast takes finitely many values, Murphy's partition
    is exactly the forecast support and the decomposition

        Brier = Reliability − Resolution + Uncertainty

    holds as an IDENTITY (within-bin forecast variance is zero), which
    tests/test_r14_operators.py asserts against the returned row.

    Output: one row per occupied bin (n_units, p_hat, o_rate) with the
    global Brier/REL/RES/UNC repeated per row. Exactness discipline:
    the bin index is INTEGER math (min(n, 9) — no float binning), the
    Brier sum is a per-row 6-dp decimal (order-independent), and the
    ≤9-bin REL/RES sums are 12-dp decimals, so partition order can
    never move a hash on either engine.

    Scale: one (user, day)-keyed rollup (the only corpus-sized
    shuffle), a ≤9-row bin table, and a broadcast single-row global —
    reliability analysis is calendar × support sized, never row-sized.
    """
    ud = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", day("ts").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max(
                (F.col("event_type") == "purchase").cast("int")
            ).alias("o"),
        )
        .select(
            F.least(F.col("n"), F.lit(CALIB_BINS)).alias("bin"),
            F.col("o"),
        )
    )
    p_hat = F.col("bin") * F.lit(0.1) + F.lit(0.05)
    scored = ud.select(
        "bin",
        "o",
        p_hat.alias("p"),
        F.round((p_hat - F.col("o")) * (p_hat - F.col("o")), 6)
        .cast("decimal(18,6)")
        .alias("sqerr"),
    )
    # the bin table feeds THREE consumers (per-bin rows, the global
    # REL/Brier rollup, the RES rollup) — persist it so the plan scans
    # the corpus ONCE, not once per consumer (r14 plan audit: the
    # unpersisted shape re-read events 4x)
    bins = managed_persist(
        scored.groupBy("bin").agg(
            F.count(F.lit(1)).alias("n_units"),
            F.sum("o").alias("s_o"),
            F.sum("sqerr").alias("s_sqerr"),
        ),
        "analytics.calib_bins",
    )
    glob = F.broadcast(
        bins.groupBy().agg(
            F.sum("n_units").alias("N"),
            F.sum("s_o").alias("SO"),
            F.sum("s_sqerr").cast("double").alias("SSQ"),
            F.sum(
                F.round(
                    F.col("n_units")
                    * (
                        F.col("bin") * F.lit(0.1)
                        + F.lit(0.05)
                        - F.col("s_o") / F.col("n_units")
                    )
                    ** 2,
                    12,
                ).cast("decimal(38,12)")
            )
            .cast("double")
            .alias("REL_NUM"),
        )
    )
    # resolution needs ō, a global — second tiny pass over the bin table
    res_num = F.round(
        F.col("n_units")
        * (F.col("s_o") / F.col("n_units") - F.col("SO") / F.col("N")) ** 2,
        12,
    ).cast("decimal(38,12)")
    enriched = bins.crossJoin(glob)
    res_tot = F.broadcast(
        enriched.groupBy().agg(
            F.sum(res_num).cast("double").alias("RES_NUM")
        )
    )
    obar = F.col("SO") / F.col("N")
    return (
        enriched.crossJoin(res_tot)
        .select(
            "bin",
            "n_units",
            F.round(F.col("bin") * F.lit(0.1) + F.lit(0.05), 2).alias(
                "p_hat"
            ),
            F.round(F.col("s_o") / F.col("n_units"), 6).alias("o_rate"),
            F.round(F.col("SSQ") / F.col("N"), 6).alias("brier"),
            F.round(F.col("REL_NUM") / F.col("N"), 6).alias("reliability"),
            F.round(F.col("RES_NUM") / F.col("N"), 6).alias("resolution"),
            F.round(obar * (1 - obar), 6).alias("uncertainty"),
        )
        .orderBy("bin")
    )


_CALIB_SQL = f"""
WITH ud AS (
  SELECT LEAST(COUNT(*), {CALIB_BINS}) AS bin,
    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS o
  FROM events GROUP BY user_id, STRFTIME(ts, '%Y-%m-%d')
),
scored AS (
  SELECT bin, o,
    CAST(ROUND((bin * 0.1 + 0.05 - o) * (bin * 0.1 + 0.05 - o), 6)
         AS DECIMAL(18,6)) AS sqerr
  FROM ud
),
bins AS (
  SELECT bin, COUNT(*) AS n_units, SUM(o) AS s_o, SUM(sqerr) AS s_sqerr
  FROM scored GROUP BY bin
),
gstats AS (
  SELECT SUM(n_units) AS N, SUM(s_o) AS SO,
    CAST(SUM(s_sqerr) AS DOUBLE) AS SSQ,
    CAST(SUM(CAST(ROUND(n_units *
      (bin * 0.1 + 0.05 - CAST(s_o AS DOUBLE) / n_units)
      * (bin * 0.1 + 0.05 - CAST(s_o AS DOUBLE) / n_units), 12)
      AS DECIMAL(38,12))) AS DOUBLE) AS REL_NUM
  FROM bins
),
res AS (
  SELECT CAST(SUM(CAST(ROUND(b.n_units *
      (CAST(b.s_o AS DOUBLE) / b.n_units - CAST(g.SO AS DOUBLE) / g.N)
      * (CAST(b.s_o AS DOUBLE) / b.n_units - CAST(g.SO AS DOUBLE) / g.N),
      12) AS DECIMAL(38,12))) AS DOUBLE) AS RES_NUM
  FROM bins b CROSS JOIN gstats g
)
SELECT b.bin, b.n_units,
  ROUND(b.bin * 0.1 + 0.05, 2) AS p_hat,
  ROUND(CAST(b.s_o AS DOUBLE) / b.n_units, 6) AS o_rate,
  ROUND(g.SSQ / g.N, 6) AS brier,
  ROUND(g.REL_NUM / g.N, 6) AS reliability,
  ROUND(r.RES_NUM / g.N, 6) AS resolution,
  ROUND((CAST(g.SO AS DOUBLE) / g.N) * (1 - CAST(g.SO AS DOUBLE) / g.N), 6)
    AS uncertainty
FROM bins b CROSS JOIN gstats g CROSS JOIN res r
ORDER BY b.bin
"""

QUERIES["model_calibration_brier"] = model_calibration_brier
ORACLE["model_calibration_brier"] = _CALIB_SQL


# --- Group-sequential testing: Haybittle–Peto boundary (round 14) ------------

PETO_INTERIM_Z = 3.0  #: interim-look boundary (Haybittle 1971, Peto 1976)
PETO_FINAL_Z = 1.959964  #: final-look boundary = fixed-horizon z at α=0.05


def stats_group_sequential_peto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential monitoring per (event_type, day) with the
    Haybittle–Peto rule (Haybittle 1971; Peto et al. 1976) — the
    simplest published group-sequential procedure and the practical
    complement to :func:`stats_sequential_msprt`: every interim look
    uses one fixed stringent boundary |z| >= 3, and only the FINAL look
    uses the fixed-horizon z(α/2) ≈ 1.96, so the overall type-I
    inflation is negligible without per-K boundary constants (the
    reason many real monitoring dashboards prefer it to O'Brien-
    Fleming's tabulated constants). Same cumulative-moments machinery
    and A/A parity arms as the mSPRT operator: one per-(type, day)
    decimal rollup, a calendar-sized cumulative window, row-local z,
    and a final-day marker window.

    Output per (type, day): look number k, cumulative z, the boundary
    in force (3.0 interim, 1.96 on each type's last day), and the
    crossing flag (total boolean: an undefined z counts as "no
    crossing"). On the A/A split crossings should be rare and
    transient: none at sf0.01+, while sf0.001's earliest looks (n<20
    per arm, where the normal approximation is loose) can brush the
    interim boundary — exactly the small-sample noise the stringent
    |z|>=3 interim rule exists to absorb. z is NULL below 2 units per
    arm or at zero variance — identical NULL routing on both engines.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        day("ts").alias("d"),
        (F.col("user_id") % 2 == 0).alias("is_a"),
        F.col("value").alias("v"),
    )
    a = F.col("is_a")
    daily = ev.groupBy("event_type", "d").agg(
        F.count(F.when(a, F.lit(1))).alias("dn_a"),
        F.count(F.when(~a, F.lit(1))).alias("dn_b"),
        F.sum(F.when(a, F.col("v")).cast("decimal(18,4)")).alias("ds_a"),
        F.sum(F.when(~a, F.col("v")).cast("decimal(18,4)")).alias("ds_b"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(38,8)")).alias("dss"),
    )
    wcum = (
        W.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wall = W.partitionBy("event_type")
    cum = daily.select(
        "event_type",
        "d",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("d"))
        .alias("look"),
        F.count(F.lit(1)).over(wall).alias("n_looks"),
        F.sum("dn_a").over(wcum).cast("double").alias("n_a"),
        F.sum("dn_b").over(wcum).cast("double").alias("n_b"),
        F.sum("ds_a").over(wcum).cast("double").alias("s_a"),
        F.sum("ds_b").over(wcum).cast("double").alias("s_b"),
        F.sum("dss").over(wcum).cast("double").alias("ss"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    ma, mb = F.col("s_a") / na, F.col("s_b") / nb
    var = (F.col("ss") - na * ma * ma - nb * mb * mb) / (na + nb - 2)
    ok = (na > 1) & (nb > 1) & (var > 0)
    z = F.round(
        (ma - mb) / F.sqrt(var * (1 / na + 1 / nb)), 6
    )
    bound = F.when(
        F.col("look") < F.col("n_looks"), F.lit(PETO_INTERIM_Z)
    ).otherwise(F.lit(PETO_FINAL_Z))
    zcol = F.when(ok, z)
    return cum.select(
        "event_type",
        "d",
        "look",
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        zcol.alias("z"),
        F.round(bound, 6).alias("boundary"),
        # total boolean: an undefined z (tiny n / zero variance) is
        # "no crossing at this look" on BOTH engines, never NULL
        F.coalesce(F.abs(zcol) >= bound, F.lit(False)).alias("crossed"),
    ).orderBy("event_type", "d")


_PETO_SQL = f"""
WITH daily AS (
  SELECT event_type, STRFTIME(ts, '%Y-%m-%d') AS d,
    COUNT(*) FILTER (WHERE user_id % 2 = 0) AS dn_a,
    COUNT(*) FILTER (WHERE user_id % 2 <> 0) AS dn_b,
    SUM(CAST(value AS DECIMAL(18,4))) FILTER (WHERE user_id % 2 = 0) AS ds_a,
    SUM(CAST(value AS DECIMAL(18,4))) FILTER (WHERE user_id % 2 <> 0) AS ds_b,
    SUM(CAST(value * value AS DECIMAL(38,8))) AS dss
  FROM events GROUP BY 1, 2
),
cum AS (
  SELECT event_type, d,
    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS look,
    COUNT(*) OVER (PARTITION BY event_type) AS n_looks,
    CAST(SUM(dn_a) OVER w AS DOUBLE) AS n_a,
    CAST(SUM(dn_b) OVER w AS DOUBLE) AS n_b,
    CAST(SUM(ds_a) OVER w AS DOUBLE) AS s_a,
    CAST(SUM(ds_b) OVER w AS DOUBLE) AS s_b,
    CAST(SUM(dss) OVER w AS DOUBLE) AS ss
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY d
               ROWS UNBOUNDED PRECEDING)
),
scored AS (
  SELECT event_type, d, look,
    CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
    CASE WHEN n_a > 1 AND n_b > 1
      AND (ss - n_a*(s_a/n_a)*(s_a/n_a) - n_b*(s_b/n_b)*(s_b/n_b))
          / (n_a + n_b - 2) > 0
    THEN ROUND((s_a/n_a - s_b/n_b) / SQRT(
      (ss - n_a*(s_a/n_a)*(s_a/n_a) - n_b*(s_b/n_b)*(s_b/n_b))
      / (n_a + n_b - 2) * (1/n_a + 1/n_b)), 6)
    END AS z,
    ROUND(CASE WHEN look < n_looks THEN {PETO_INTERIM_Z}
               ELSE {PETO_FINAL_Z} END, 6) AS boundary
  FROM cum
)
SELECT event_type, d, look, n_a, n_b, z, boundary,
  COALESCE(ABS(z) >= boundary, FALSE) AS crossed
FROM scored ORDER BY event_type, d
"""

QUERIES["stats_group_sequential_peto"] = stats_group_sequential_peto
ORACLE["stats_group_sequential_peto"] = _PETO_SQL


# --- Binned AUC / Gini for the activity forecaster (round 14) ----------------


def model_eval_auc_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC and Gini for the discrete activity forecaster of
    :func:`model_calibration_brier`, computed EXACTLY from the score
    histogram — no per-row ranking anywhere: with scores taking K
    discrete values, AUC = P(s⁺ > s⁻) + ½·P(s⁺ = s⁻) (the Mann-
    Whitney U with midrank tie handling, Hanley & McNeil 1982) reduces
    to a K-row cumulative readout

        AUC = Σ_b pos_b · (2·cumneg_{<b} + neg_b) / (2·P·N)

    kept in INTEGER arithmetic until the final division, so both
    engines agree bit-for-bit. The unit, forecast, and outcome are
    exactly the calibration operator's ((user, day), min(n,9) bin,
    any-purchase), making AUC/Gini the discrimination half and
    Brier/reliability the calibration half of one eval suite.

    Scale: one (user, day)-keyed rollup, then a ≤9-row histogram
    window — the same shape every sketch-rollup readout uses.
    """
    ud = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", day("ts").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max((F.col("event_type") == "purchase").cast("int")).alias("o"),
        )
        .select(
            F.least(F.col("n"), F.lit(CALIB_BINS)).alias("bin"), F.col("o")
        )
    )
    hist = ud.groupBy("bin").agg(
        F.sum("o").alias("pos"),
        F.sum(F.lit(1) - F.col("o")).alias("neg"),
    )
    wcum = (
        W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    scored = hist.select(
        "bin",
        "pos",
        "neg",
        (F.sum("neg").over(wcum) - F.col("neg")).alias("cumneg_below"),
    )
    return scored.groupBy().agg(
        (F.sum("pos") + F.sum("neg")).alias("n_units"),
        F.sum("pos").alias("n_pos"),
        F.sum("neg").alias("n_neg"),
        F.when(
            (F.sum("pos") > 0) & (F.sum("neg") > 0),
            F.round(
                F.sum(
                    F.col("pos")
                    * (F.lit(2) * F.col("cumneg_below") + F.col("neg"))
                ).cast("double")
                / (F.lit(2.0) * F.sum("pos") * F.sum("neg")),
                6,
            ),
        ).alias("auc"),
        F.when(
            (F.sum("pos") > 0) & (F.sum("neg") > 0),
            F.round(
                F.sum(
                    F.col("pos")
                    * (F.lit(2) * F.col("cumneg_below") + F.col("neg"))
                ).cast("double")
                / (F.sum("pos") * F.sum("neg"))
                - F.lit(1.0),
                6,
            ),
        ).alias("gini"),
    )


_AUC_SQL = f"""
WITH ud AS (
  SELECT LEAST(COUNT(*), {CALIB_BINS}) AS bin,
    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS o
  FROM events GROUP BY user_id, STRFTIME(ts, '%Y-%m-%d')
),
hist AS (
  SELECT bin, SUM(o) AS pos, SUM(1 - o) AS neg FROM ud GROUP BY bin
),
scored AS (
  SELECT bin, pos, neg,
    SUM(neg) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) - neg
      AS cumneg_below
  FROM hist
)
SELECT CAST(SUM(pos) + SUM(neg) AS BIGINT) AS n_units,
  CAST(SUM(pos) AS BIGINT) AS n_pos, CAST(SUM(neg) AS BIGINT) AS n_neg,
  CASE WHEN SUM(pos) > 0 AND SUM(neg) > 0 THEN
    ROUND(CAST(SUM(pos * (2 * cumneg_below + neg)) AS DOUBLE)
          / (2.0 * SUM(pos) * SUM(neg)), 6) END AS auc,
  CASE WHEN SUM(pos) > 0 AND SUM(neg) > 0 THEN
    ROUND(CAST(SUM(pos * (2 * cumneg_below + neg)) AS DOUBLE)
          / (CAST(SUM(pos) AS DOUBLE) * SUM(neg)) - 1.0, 6) END AS gini
FROM scored
"""

QUERIES["model_eval_auc_binned"] = model_eval_auc_binned
ORACLE["model_eval_auc_binned"] = _AUC_SQL


# --- Isotonic (PAV) calibration over the reliability bins (round 14) ---------


def model_calibration_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic-regression calibration map for the activity forecaster
    — the pool-adjacent-violators fit (Ayer et al. 1955; Zadrozny &
    Elkan 2002 for probability calibration) computed via the MINIMAX
    identity instead of the sequential pooling loop: the isotonic fit
    at bin i equals

        iso_i = max_{a<=i} min_{b>=i}  ( Σ_{k=a..b} o_k ) / ( Σ n_k )

    (Robertson, Wright & Dykstra 1988, thm 1.4.4) — a closed form over
    SEGMENT MEANS, which turns the inherently sequential PAV sweep into
    a relational expression: cumulative (n, o) sums over the bin table,
    an a<=i<=b segment expansion (≤K³ rows for K bins), and a min/max
    rollup. With K = 9 the expansion is 165 rows — driver-free,
    engine-exact (segment means are single divisions of integers), and
    the same shape at ANY corpus size because it runs on the HISTOGRAM,
    never the rows.

    Output per occupied bin: raw forecast, empirical rate, and the
    isotonic calibrated probability (monotone by construction —
    asserted by the brute-force PAV sweep in tests/test_r14_operators).
    """
    ud = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", day("ts").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max((F.col("event_type") == "purchase").cast("int")).alias("o"),
        )
        .select(
            F.least(F.col("n"), F.lit(CALIB_BINS)).alias("bin"), F.col("o")
        )
    )
    wcum = (
        W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    bins = managed_persist(
        ud.groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_units"), F.sum("o").alias("s_o"))
        .select(
            "bin",
            "n_units",
            "s_o",
            F.sum("n_units").over(wcum).alias("cn"),
            F.sum("s_o").over(wcum).alias("co"),
        ),
        "analytics.iso_bins",
    )
    lo = bins.select(
        F.col("bin").alias("a"),
        (F.col("cn") - F.col("n_units")).alias("cn_lo"),
        (F.col("co") - F.col("s_o")).alias("co_lo"),
    )
    hi = bins.select(
        F.col("bin").alias("b"),
        F.col("cn").alias("cn_hi"),
        F.col("co").alias("co_hi"),
    )
    seg = (
        F.broadcast(lo)
        .crossJoin(F.broadcast(hi))
        .filter(F.col("a") <= F.col("b"))
        .select(
            "a",
            "b",
            (
                (F.col("co_hi") - F.col("co_lo")).cast("double")
                / (F.col("cn_hi") - F.col("cn_lo"))
            ).alias("m"),
        )
    )
    # iso_i = max_{a<=i} min_{b>=i} m(a,b): expand each segment to the
    # bins it covers, inner min over b per (i, a), outer max over a
    covered = (
        seg.join(
            F.broadcast(bins.select(F.col("bin").alias("i"))),
            (F.col("a") <= F.col("i")) & (F.col("i") <= F.col("b")),
        )
        .groupBy("i", "a")
        .agg(F.min("m").alias("min_b"))
        .groupBy("i")
        .agg(F.round(F.max("min_b"), 6).alias("p_isotonic"))
    )
    return (
        bins.join(covered, bins.bin == covered.i)
        .select(
            "bin",
            "n_units",
            F.round(F.col("bin") * F.lit(0.1) + F.lit(0.05), 2).alias(
                "p_hat"
            ),
            F.round(
                F.col("s_o").cast("double") / F.col("n_units"), 6
            ).alias("o_rate"),
            "p_isotonic",
        )
        .orderBy("bin")
    )


_ISO_SQL = f"""
WITH ud AS (
  SELECT LEAST(COUNT(*), {CALIB_BINS}) AS bin,
    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS o
  FROM events GROUP BY user_id, STRFTIME(ts, '%Y-%m-%d')
),
bins AS (
  SELECT bin, COUNT(*) AS n_units, SUM(o) AS s_o,
    SUM(COUNT(*)) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cn,
    SUM(SUM(o)) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS co
  FROM ud GROUP BY bin
),
seg AS (
  SELECT lo.bin AS a, hi.bin AS b,
    CAST(hi.co - (lo.co - lo.s_o) AS DOUBLE)
      / (hi.cn - (lo.cn - lo.n_units)) AS m
  FROM bins lo JOIN bins hi ON lo.bin <= hi.bin
),
covered AS (
  SELECT i.bin AS i, s.a, MIN(s.m) AS min_b
  FROM seg s JOIN bins i ON s.a <= i.bin AND i.bin <= s.b
  GROUP BY i.bin, s.a
),
iso AS (
  SELECT i, ROUND(MAX(min_b), 6) AS p_isotonic FROM covered GROUP BY i
)
SELECT b.bin, b.n_units,
  ROUND(b.bin * 0.1 + 0.05, 2) AS p_hat,
  ROUND(CAST(b.s_o AS DOUBLE) / b.n_units, 6) AS o_rate,
  iso.p_isotonic
FROM bins b JOIN iso ON b.bin = iso.i
ORDER BY b.bin
"""

QUERIES["model_calibration_isotonic"] = model_calibration_isotonic
ORACLE["model_calibration_isotonic"] = _ISO_SQL


# --- Sample-ratio-mismatch (SRM) guardrail (round 14) -------------------------

SRM_CHI2_CRIT = 3.841459  #: chi-square 1-df critical value at α = 0.05


def ab_test_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check per event type — the #1 A/B trust
    gate (Fabijan et al., KDD 2019: "Diagnosing Sample Ratio
    Mismatch"): before reading ANY metric, verify the unit counts
    actually landed in the designed 50/50 split. The statistic is the
    1-df chi-square against the expected equal split,
    χ² = (n_A − n_B)² / (n_A + n_B), flagged at the 0.05 critical
    value — on the deterministic user-parity split the flag fires only
    where the population's parity mix is itself skewed, which is
    exactly what an SRM guardrail is for (randomization bugs, not
    metric movement). Units are DISTINCT USERS per (type, arm) — the
    randomization unit, never event counts.

    Scale: one distinct-user rollup per (type, arm) — the classic
    two-level distinct aggregation — then row-local arithmetic on a
    type-count-sized frame.
    """
    per = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            "user_id",
            (F.col("user_id") % 2 == 0).alias("is_a"),
        )
        .distinct()
        .groupBy("event_type")
        .agg(
            F.count(F.when(F.col("is_a"), F.lit(1))).alias("n_a"),
            F.count(F.when(~F.col("is_a"), F.lit(1))).alias("n_b"),
        )
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    chi2 = (na - nb) * (na - nb) / (na + nb)
    return per.select(
        "event_type",
        F.col("n_a").alias("n_users_a"),
        F.col("n_b").alias("n_users_b"),
        F.round(na / (na + nb), 6).alias("share_a"),
        F.round(chi2, 6).alias("chi2"),
        (F.round(chi2, 6) > F.lit(SRM_CHI2_CRIT)).alias("srm_detected"),
    ).orderBy("event_type")


_SRM_SQL = f"""
WITH per AS (
  SELECT event_type,
    COUNT(*) FILTER (WHERE is_a) AS n_a,
    COUNT(*) FILTER (WHERE NOT is_a) AS n_b
  FROM (
    SELECT DISTINCT event_type, user_id, user_id % 2 = 0 AS is_a
    FROM events
  ) GROUP BY event_type
)
SELECT event_type, n_a AS n_users_a, n_b AS n_users_b,
  ROUND(CAST(n_a AS DOUBLE) / (n_a + n_b), 6) AS share_a,
  ROUND(CAST(n_a - n_b AS DOUBLE) * (n_a - n_b) / (n_a + n_b), 6) AS chi2,
  ROUND(CAST(n_a - n_b AS DOUBLE) * (n_a - n_b) / (n_a + n_b), 6)
    > {SRM_CHI2_CRIT} AS srm_detected
FROM per ORDER BY event_type
"""

QUERIES["ab_test_srm_check"] = ab_test_srm_check
ORACLE["ab_test_srm_check"] = _SRM_SQL


# --- Position-based (U-shaped) multi-touch attribution (round 14) ------------


def attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution — the
    standard 40/20/40 rule (the Google Analytics / Adobe position-
    based model): each 'purchase' distributes one unit of credit over
    the user's preceding touches ('click'/'view') inside
    ATTR_WINDOW_DAYS — 40% to the FIRST touch, 40% to the LAST, the
    remaining 20% split evenly over the middle; one touch takes 100%,
    exactly two take 50/50, and a touchless conversion credits
    'direct'. The multi-touch counterpart of
    :func:`attribution_last_touch` (one row of credit per conversion
    there; a weighted path here).

    Exactness: credits are per-touch closed forms of (rank, n) rounded
    to 6 dp and summed in the decimal domain — order-independent and
    engine-identical, ties on the total (ts, event_id) order.

    Scale: the (touch, conversion) pair expansion is a user-keyed
    range join — per-user touches x conversions inside the window, the
    irreducible cost of path attribution (bounded by per-user activity
    x window, never corpus x corpus); both rank windows run per
    conversion key on that pair frame; the rollup is channel-sized.
    """
    ev = load_table(spark, sf_dir, "events")
    touches = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.col("event_id").alias("t_id"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("channel"),
    )
    convs = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("c_id"),
        F.col("ts").alias("c_ts"),
    )
    pairs = convs.join(touches, "user_id").filter(
        (
            (F.col("t_ts") < F.col("c_ts"))
            | (
                (F.col("t_ts") == F.col("c_ts"))
                & (F.col("t_id") < F.col("c_id"))
            )
        )
        & (F.datediff(F.col("c_ts"), F.col("t_ts")) <= ATTR_WINDOW_DAYS)
    )
    wc = W.partitionBy("c_id").orderBy("t_ts", "t_id")
    # two consumers (credit rows + the touchless anti-join) — persist
    # so the user-keyed range join and its windows run once
    ranked = managed_persist(
        pairs.select(
            "c_id",
            "channel",
            F.row_number().over(wc).alias("r"),
            F.count(F.lit(1)).over(W.partitionBy("c_id")).alias("n"),
        ),
        "analytics.attr_pos_ranked",
    )
    r, n = F.col("r"), F.col("n")
    credit = (
        F.when(n == 1, F.lit(1.0))
        .when(n == 2, F.lit(0.5))
        .when(r == 1, F.lit(0.4))
        .when(r == n, F.lit(0.4))
        .otherwise(F.lit(0.2) / (n - 2))
    )
    credited = ranked.select(
        "channel",
        F.round(credit, 6).cast("decimal(18,6)").alias("credit"),
    )
    direct = convs.join(
        ranked.select(F.col("c_id").alias("tc_id")).distinct(),
        convs.c_id == F.col("tc_id"),
        "anti",
    ).select(
        F.lit("direct").alias("channel"),
        F.lit(1.0).cast("decimal(18,6)").alias("credit"),
    )
    tot = W.partitionBy()
    return (
        credited.unionByName(direct)
        .groupBy("channel")
        .agg(F.sum("credit").cast("double").alias("credit"))
        .select(
            "channel",
            F.round("credit", 6).alias("credit"),
            F.round(
                F.col("credit") / F.sum("credit").over(tot), 6
            ).alias("share"),
        )
        .orderBy("channel")
    )


_ATTR_POS_SQL = f"""
WITH touches AS (
  SELECT user_id, event_id AS t_id, ts AS t_ts, event_type AS channel
  FROM events WHERE event_type IN ('click', 'view')
),
convs AS (
  SELECT user_id, event_id AS c_id, ts AS c_ts
  FROM events WHERE event_type = 'purchase'
),
pairs AS (
  SELECT c.c_id, t.channel,
    ROW_NUMBER() OVER (PARTITION BY c.c_id ORDER BY t.t_ts, t.t_id) AS r,
    COUNT(*) OVER (PARTITION BY c.c_id) AS n
  FROM convs c JOIN touches t ON c.user_id = t.user_id
  WHERE (t.t_ts < c.c_ts OR (t.t_ts = c.c_ts AND t.t_id < c.c_id))
    AND datediff('day', t.t_ts, c.c_ts) <= {ATTR_WINDOW_DAYS}
),
credited AS (
  SELECT channel,
    CAST(ROUND(CASE WHEN n = 1 THEN 1.0
                    WHEN n = 2 THEN 0.5
                    WHEN r = 1 THEN 0.4
                    WHEN r = n THEN 0.4
                    ELSE CAST(0.2 AS DOUBLE) / (n - 2) END, 6) AS DECIMAL(18,6)) AS credit
  FROM pairs
  UNION ALL
  SELECT 'direct', CAST(1.0 AS DECIMAL(18,6))
  FROM convs c WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.c_id = c.c_id)
)
SELECT channel,
  ROUND(CAST(SUM(credit) AS DOUBLE), 6) AS credit,
  ROUND(CAST(SUM(credit) AS DOUBLE)
        / SUM(CAST(SUM(credit) AS DOUBLE)) OVER (), 6) AS share
FROM credited GROUP BY channel ORDER BY channel
"""

QUERIES["attribution_position_based"] = attribution_position_based
ORACLE["attribution_position_based"] = _ATTR_POS_SQL

"""Independent brute-force verification of the round-9 operators.

Every query here is also oracle-gated (Spark vs DuckDB at sf0.01), but
oracle twins share the AUTHOR — a misconception encoded in both sides
hashes green. These tests recompute each operator's semantics a third
way, in plain Python over collected sf0.001 rows, from the DEFINITION
(dominance, sweep-line simulation, the CUSUM recurrence, all-pairs
Jaccard, direct triangle enumeration) rather than from the relational
formulation both engines share.
"""

from __future__ import annotations

import math
import os
from collections import defaultdict

from tests.conftest import SF_SMOKE


def test_pareto_frontier_is_exactly_the_nondominated_set(spark):
    """Skyline definition check: every returned order is non-dominated,
    every non-returned order is dominated by some returned one (the
    frontier dominates everything — a standard skyline property)."""
    from etl_gcp_function_tmabrasil_spark.catalog import load_table
    from etl_gcp_function_tmabrasil_spark.queries.relational3 import (
        pareto_frontier_orders,
    )

    rows = [
        (r.o_orderkey, r.o_totalprice, r.o_orderdate)
        for r in load_table(spark, SF_SMOKE, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .collect()
    ]
    got = {r.o_orderkey for r in pareto_frontier_orders(spark, SF_SMOKE).collect()}

    def dominates(a, b):
        return (
            a[1] >= b[1]
            and a[2] <= b[2]
            and (a[1] > b[1] or a[2] < b[2])
        )

    # brute-force frontier from the definition (price max, date min)
    want = set()
    for a in rows:
        if not any(dominates(b, a) for b in rows):
            want.add(a[0])
    assert got == want
    assert got, "empty frontier"


def test_interval_concurrency_matches_timeline_simulation(spark):
    """Sweep-line vs a direct per-user timeline simulation with
    half-open [s, e) intervals — including the tie rule (an interval
    ending exactly when another starts does not overlap it)."""
    import datetime as dt

    from etl_gcp_function_tmabrasil_spark.catalog import load_table
    from etl_gcp_function_tmabrasil_spark.queries.events_json import (
        interval_max_concurrency,
    )

    horizon = {"purchase": 60, "click": 30}
    per_user = defaultdict(list)
    for r in (
        load_table(spark, SF_SMOKE, "events")
        .select("user_id", "ts", "event_type")
        .collect()
    ):
        end = r.ts + dt.timedelta(minutes=horizon.get(r.event_type, 15))
        per_user[r.user_id].append((r.ts, end))
    got = {
        r.user_id: (r.max_concurrent, r.n_intervals)
        for r in interval_max_concurrency(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(per_user)
    for uid, ivs in per_user.items():
        # direct simulation: ends before starts at equal instants
        pts = [(s, 1) for s, _ in ivs] + [(e, -1) for _, e in ivs]
        pts.sort(key=lambda p: (p[0], p[1]))
        live = peak = 0
        for _, d in pts:
            live += d
            peak = max(peak, live)
        assert got[uid] == (peak, len(ivs)), uid


def test_twa_matches_direct_recompute(spark):
    """Time-weighted average vs a direct per-user recompute from the
    definition (each value holds until the next event; last holds
    nothing; zero-duration tie slices contribute nothing)."""
    from etl_gcp_function_tmabrasil_spark.catalog import load_table
    from etl_gcp_function_tmabrasil_spark.queries.events_json import (
        timeseries_twa,
    )

    per_user = defaultdict(list)
    for r in (
        load_table(spark, SF_SMOKE, "events")
        .select("user_id", "ts", "event_id", "value")
        .collect()
    ):
        per_user[r.user_id].append((r.ts, r.event_id, r.value))
    got = {
        r.user_id: (r.twa_value, r.span_s)
        for r in timeseries_twa(spark, SF_SMOKE).collect()
    }
    for uid, evs in per_user.items():
        evs.sort(key=lambda e: (e[0], e[1]))
        wsum, span = 0.0, 0
        for (t0, _, v), (t1, _, _) in zip(evs, evs[1:]):
            dur = int(t1.timestamp()) - int(t0.timestamp())
            wsum += round(v, 4) * dur
            span += dur
        if span > 0:
            assert got[uid][1] == span, uid
            assert abs(got[uid][0] - wsum / span) < 1e-5, uid
        else:
            assert uid not in got


def test_cusum_matches_sequential_fold(spark):
    """CUSUM vs the literal Page recurrence run sequentially in Python
    with the same μ (mean + 0.5σ from exact moments)."""
    from etl_gcp_function_tmabrasil_spark.catalog import load_table
    from etl_gcp_function_tmabrasil_spark.queries.events_json import (
        timeseries_cusum,
    )

    rows = (
        load_table(spark, SF_SMOKE, "events")
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    vals = [round(r.value, 4) for r in rows]
    n = len(vals)
    mean = sum(vals) / n
    sd = math.sqrt(n * sum(v * v for v in vals) - sum(vals) ** 2) / n
    mu = mean + 0.5 * sd
    per_user = defaultdict(list)
    for r in rows:
        per_user[r.user_id].append((r.ts, r.event_id, r.value))
    got = {
        r.user_id: (r.cusum_final, r.cusum_max, r.alarm)
        for r in timeseries_cusum(spark, SF_SMOKE).collect()
    }
    for uid, evs in per_user.items():
        evs.sort(key=lambda e: (e[0], e[1]))
        s = m = 0.0
        for _, _, v in evs:
            s = max(0.0, s + (v - mu))
            m = max(m, s)
        assert abs(got[uid][0] - s) < 1e-4, uid
        assert abs(got[uid][1] - m) < 1e-4, uid
        assert got[uid][2] == (m > 3.0 * sd), uid


def _simjoin_bruteforce(docs):
    """All-pairs (doc_a, doc_b, inter, jaccard) rows with Jaccard >= tau
    over the word-shingle sets of `docs` [(doc_id, text)], from the
    definition (Python's split(" ") matches Spark's and DuckDB's)."""
    from etl_gcp_function_tmabrasil_spark.queries.dedup_approx import (
        SSJOIN_TAU,
        SSJOIN_W,
    )

    sets = {}
    for d, text in docs:
        t = text.split(" ") if text is not None else []
        if len(t) >= SSJOIN_W:
            sets[d] = {
                " ".join(t[i : i + SSJOIN_W])
                for i in range(len(t) - SSJOIN_W + 1)
            }
    want = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            jac = inter / (len(sets[a]) + len(sets[b]) - inter)
            if inter and jac >= SSJOIN_TAU:
                want[(a, b)] = (inter, jac)
    return want


def _assert_simjoin_rows(got_rows, want):
    """Every returned row is a brute-force pair with its exact overlap
    and its Jaccard to the 6 decimals the query rounds to."""
    got = {(r.doc_a, r.doc_b): (r.inter, r.jaccard) for r in got_rows}
    assert len(got) == len(got_rows), "duplicate pairs"
    assert set(got) == set(want)
    for pair, (inter, jac) in want.items():
        assert got[pair][0] == inter, pair
        assert abs(got[pair][1] - jac) < 1e-6, pair


def test_simjoin_equals_all_pairs_bruteforce(spark):
    """Prefix filtering is a candidate PRUNE, and the suffix-only verify
    is exact on every true pair: the join must return exactly the
    all-pairs Jaccard >= tau rows, overlap and Jaccard included."""
    from etl_gcp_function_tmabrasil_spark.catalog import load_table
    from etl_gcp_function_tmabrasil_spark.queries.dedup_approx import (
        simjoin_prefix_jaccard,
    )

    docs = [
        (r.doc_id, r.text)
        for r in load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text")
        .collect()
    ]
    want = _simjoin_bruteforce(docs)
    assert want, "no similar pairs at sf0.001 — threshold miscalibrated"
    _assert_simjoin_rows(simjoin_prefix_jaccard(spark, SF_SMOKE).collect(), want)


def _simjoin_edge_docs():
    """A seeded `documents` corpus of the simjoin's edge classes: NULL,
    empty, whitespace-only and vertical-tab texts; docs of exactly
    SSJOIN_W words and of fewer; identical texts (Jaccard 1.0);
    shingles repeated inside one doc; one shingle in ~30% of the docs;
    a pair at exactly J = tau; and near-duplicate families around the
    threshold."""
    import random

    from etl_gcp_function_tmabrasil_spark.queries.dedup_approx import SSJOIN_W

    rng = random.Random(19)
    vocab = [f"w{i}" for i in range(40)]
    texts = [
        None,
        "",
        "   ",
        "   ",  # whitespace twin: one shingle of empty words, Jaccard 1.0
        "\x0b",
        "a\x0bb c d e",
        " ".join(vocab[:SSJOIN_W]),  # exactly W words, twice
        " ".join(vocab[:SSJOIN_W]),
        " ".join(vocab[: SSJOIN_W - 1]),  # fewer than W
        "x y z x y z x y z",  # repeated shingles
        "x y z x y z",
        # exactly J = tau: 7 shingles each, the 4 shared ones (df 2) rank
        # last, so the positional bound equals alpha = ceil(2/7 * 14) = 4
        "ta1 ta2 ta3 tc1 tc2 tc3 tc4 tc5 tc6",
        "tc1 tc2 tc3 tc4 tc5 tc6 tb1 tb2 tb3",
    ]
    fixed = len(texts)
    for _ in range(6):  # near-duplicate families around tau
        base = [rng.choice(vocab) for _ in range(12)]
        for k in range(5):
            t = list(base)
            for _ in range(k):
                t[rng.randrange(len(t))] = rng.choice(vocab)
            texts.append(" ".join(t))
    texts.append(texts[-1])  # identical pair inside a family
    for _ in range(15):
        texts.append(" ".join(rng.choice(vocab) for _ in range(rng.randint(3, 9))))
    for i in range(fixed, len(texts)):  # one shingle in ~30% of the docs
        if i % 5 in (0, 2):
            texts[i] += " hot shingle here"
    return list(enumerate(texts, start=1))


def test_simjoin_edge_corpus_matches_oracle_and_bruteforce(spark):
    """The edge classes agree across Spark, the DuckDB oracle and the
    brute force, rows and values."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_gcp_function_tmabrasil_spark.queries._util import fixture_dir
    from etl_gcp_function_tmabrasil_spark.queries.dedup_approx import (
        ORACLE,
        SSJOIN_TAU,
        simjoin_prefix_jaccard,
    )
    from tests.oracle_check import compare

    docs = _simjoin_edge_docs()
    sf_dir = fixture_dir(SF_SMOKE, "simjoin_edge")
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "documents.parquet")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d for d, _ in docs], pa.int64()),
                "text": pa.array([t for _, t in docs], pa.string()),
            }
        ),
        path,
    )
    want = _simjoin_bruteforce(docs)
    assert any(j == 1.0 for _, j in want.values()), "no identical pair"
    assert any(j < 1.0 for _, j in want.values()), "no partial pair"
    assert any(j == SSJOIN_TAU for _, j in want.values()), "no pair at tau"
    got = simjoin_prefix_jaccard(spark, sf_dir)
    _assert_simjoin_rows(got.collect(), want)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    oracle = con.execute(ORACLE["simjoin_prefix_jaccard"]).fetchdf()
    assert compare(got, oracle, "simjoin_prefix_jaccard") == []


def test_simjoin_ids_need_no_cache(spark):
    """The shingle ids are a function of the data, not of one
    materialization: a frame built before clearCache() executes to the
    same rows, and repeated invocations leave no persisted or
    checkpointed RDD behind."""
    from etl_gcp_function_tmabrasil_spark.queries.dedup_approx import (
        simjoin_prefix_jaccard,
    )

    want = simjoin_prefix_jaccard(spark, SF_SMOKE).collect()
    q = simjoin_prefix_jaccard(spark, SF_SMOKE)
    spark.catalog.clearCache()
    assert q.collect() == want
    held = spark.sparkContext._jsc.getPersistentRDDs
    counts = []
    for _ in range(3):
        assert simjoin_prefix_jaccard(spark, SF_SMOKE).collect() == want
        counts.append(held().size())
    assert counts[-1] <= counts[0], counts


def test_triangle_count_matches_direct_enumeration(spark):
    """Degree-oriented wedge closing vs direct triangle enumeration
    over the adjacency sets of the same bounded co-purchase graph."""
    from etl_gcp_function_tmabrasil_spark.catalog import load_table
    from etl_gcp_function_tmabrasil_spark.queries.relational3 import (
        _TRI_MAX_PART,
        graph_triangle_count,
    )

    per_order = defaultdict(set)
    for r in (
        load_table(spark, SF_SMOKE, "lineitem")
        .filter(f"l_partkey < {_TRI_MAX_PART}")
        .select("l_orderkey", "l_partkey")
        .collect()
    ):
        per_order[r.l_orderkey].add(r.l_partkey)
    edges = set()
    for parts in per_order.values():
        ps = sorted(parts)
        for i, u in enumerate(ps):
            for v in ps[i + 1 :]:
                edges.add((u, v))
    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    tri = sum(
        1
        for (u, v) in edges
        for w in adj[u] & adj[v]
        if v < w  # canonical u < v < w
    )
    row = graph_triangle_count(spark, SF_SMOKE).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (
        len(adj),
        len(edges),
        tri,
    )
    assert tri > 0, "degenerate fixture: no triangles"

"""Independent brute-force verification of the round-13 wave.

Every query here is also oracle-gated (Spark vs DuckDB), but oracle
twins share the AUTHOR — a misconception encoded in both sides hashes
green. These tests recompute each operator from its DEFINITION in
plain Python over collected sf0.001 rows: CUPED/DiD from numpy-free
moment arithmetic over per-user pre/post sums, WoE/IV from Counters
and math.log, PoP growth and the sMAPE backtest from day→revenue
dicts, Adamic-Adar from adjacency sets, the bloom router from a
hand-rolled md5 bloom, length bucketing and readability from regex
scans, the radius search from brute-force cosines (pruning must not
change the result SET), and the WAP promote from direct
snapshot-primitive calls.
"""

from __future__ import annotations

import calendar
import hashlib
import math
import re
from collections import Counter, defaultdict

import pytest

from tests.conftest import SF_SMOKE

_WS = r"[ \t\n\r\f\x0b]+"


def _hash60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _events(spark):
    from etl_gcp_function_tmabrasil_spark.catalog import load_table

    return load_table(spark, SF_SMOKE, "events").collect()


def _prepost(spark):
    """Per (event_type, user): (x=pre sum, y=post sum) at 4dp, split at
    the midpoint epoch second — the shared frame both estimators use."""
    rows = _events(spark)
    se = [calendar.timegm(r.ts.timetuple()) for r in rows]
    mid = (min(se) + max(se)) // 2
    acc: dict[tuple, list] = defaultdict(lambda: [0.0, 0.0])
    for r, s in zip(rows, se):
        slot = acc[(r.event_type, r.user_id)]
        # decimal(18,4) per-event cast then exact sum == sum of 4dp
        slot[0 if s < mid else 1] += round(r.value, 4)
    return acc


def test_cuped_matches_python_moments(spark):
    from etl_gcp_function_tmabrasil_spark.queries.analytics import ab_test_cuped

    got = {r.event_type: r for r in ab_test_cuped(spark, SF_SMOKE).collect()}
    acc = _prepost(spark)
    by_type: dict[str, dict[str, list]] = defaultdict(lambda: {"a": [], "b": []})
    for (et, uid), (x, y) in acc.items():
        by_type[et]["a" if uid % 2 == 0 else "b"].append((x, y))
    assert set(got) == set(by_type)
    for et, sides in by_type.items():
        a, b = sides["a"], sides["b"]
        pooled = a + b
        n = len(pooled)
        sx = sum(x for x, _ in pooled)
        sy = sum(y for _, y in pooled)
        sxx = sum(x * x for x, _ in pooled)
        sxy = sum(x * y for x, y in pooled)
        theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        mean_x = sx / n
        ya = sum(y for _, y in a) / len(a)
        yb = sum(y for _, y in b) / len(b)
        xa = sum(x for x, _ in a) / len(a)
        xb = sum(x for x, _ in b) / len(b)
        r = got[et]
        assert r.n_users_a == len(a) and r.n_users_b == len(b)
        assert r.theta == pytest.approx(theta, abs=2e-6)
        assert r.diff_raw == pytest.approx(ya - yb, abs=2e-6)
        assert r.diff_cuped == pytest.approx(
            (ya - theta * (xa - mean_x)) - (yb - theta * (xb - mean_x)),
            abs=2e-6,
        )
        # CUPED must not HURT: variance reduction is >= 0 up to noise
        assert r.var_reduction is None or r.var_reduction >= -1e-6


def test_did_matches_python_diffs(spark):
    from etl_gcp_function_tmabrasil_spark.queries.analytics import ab_test_did

    got = {r.event_type: r for r in ab_test_did(spark, SF_SMOKE).collect()}
    acc = _prepost(spark)
    by_type: dict[str, dict[str, list]] = defaultdict(lambda: {"a": [], "b": []})
    for (et, uid), (x, y) in acc.items():
        by_type[et]["a" if uid % 2 == 0 else "b"].append(y - x)
    for et, sides in by_type.items():
        a, b = sides["a"], sides["b"]
        mda, mdb = sum(a) / len(a), sum(b) / len(b)
        va = sum((d - mda) ** 2 for d in a) / (len(a) - 1)
        vb = sum((d - mdb) ** 2 for d in b) / (len(b) - 1)
        z = (mdb - mda) / math.sqrt(va / len(a) + vb / len(b))
        r = got[et]
        assert r.did == pytest.approx(mdb - mda, abs=2e-6)
        assert r.z_stat == pytest.approx(z, abs=2e-5)
        assert r.significant == (abs(z) > 1.96)


def test_woe_iv_matches_python_counters(spark):
    from etl_gcp_function_tmabrasil_spark.catalog import load_table
    from etl_gcp_function_tmabrasil_spark.queries.aggregates import (
        WOE_SMOOTH,
        feature_woe_iv,
    )

    got = {r.category: r for r in feature_woe_iv(spark, SF_SMOKE).collect()}
    orders = load_table(spark, SF_SMOKE, "orders").collect()
    n = Counter(o.o_orderpriority for o in orders)
    ev = Counter(o.o_orderpriority for o in orders if o.o_orderstatus == "F")
    tot_e = sum(ev.values())
    tot_ne = sum(n.values()) - tot_e
    iv_tot = 0.0
    woes = {}
    for cat in n:
        g, e = n[cat] - ev[cat], ev[cat]
        woe = math.log(((g + WOE_SMOOTH) / tot_ne) / ((e + WOE_SMOOTH) / tot_e))
        woes[cat] = woe
        iv_tot += (g / tot_ne - e / tot_e) * woe
    assert set(got) == set(n)
    for cat, r in got.items():
        assert r.n == n[cat] and r.n_event == ev[cat]
        assert r.woe == pytest.approx(woes[cat], abs=2e-6)
    assert next(iter(got.values())).iv_total == pytest.approx(iv_tot, abs=2e-6)


def _daily_rev(spark):
    from etl_gcp_function_tmabrasil_spark.catalog import load_table

    rev: dict = defaultdict(float)
    for o in load_table(spark, SF_SMOKE, "orders").collect():
        rev[o.o_orderdate.date()] += round(o.o_totalprice, 2)
    return rev


def test_pop_growth_matches_python_dict(spark):
    import datetime

    from etl_gcp_function_tmabrasil_spark.queries.analytics import (
        period_over_period_growth,
    )

    rev = _daily_rev(spark)
    got = {r.day: r for r in period_over_period_growth(spark, SF_SMOKE).collect()}
    assert len(got) == len(rev)
    for day, r in rev.items():
        row = got[day.isoformat()]
        assert row.revenue == pytest.approx(r, abs=1e-2)
        for off, col in ((1, "dod_growth"), (7, "wow_growth")):
            prev = rev.get(day - datetime.timedelta(days=off))
            val = getattr(row, col)
            if prev is None or prev <= 0:
                assert val is None
            else:
                assert val == pytest.approx((r - prev) / prev, abs=2e-6)


def test_backtest_smape_matches_python_dict(spark):
    import datetime

    from etl_gcp_function_tmabrasil_spark.queries.analytics import (
        forecast_backtest_smape,
    )

    rev = _daily_rev(spark)
    got = {
        (r.method, r.month): r
        for r in forecast_backtest_smape(spark, SF_SMOKE).collect()
    }
    want: dict = defaultdict(list)
    for day, actual in rev.items():
        for off, m in ((1, "naive"), (7, "seasonal_naive")):
            fc = rev.get(day - datetime.timedelta(days=off))
            if fc is not None:
                want[(m, day.strftime("%Y-%m"))].append(
                    2 * abs(fc - actual) / (abs(fc) + abs(actual))
                )
    assert set(got) == set(want)
    for key, apes in want.items():
        assert got[key].n_days == len(apes)
        assert got[key].smape == pytest.approx(sum(apes) / len(apes), abs=2e-6)


def test_adamic_adar_matches_python_sets(spark):
    from etl_gcp_function_tmabrasil_spark.catalog import load_table
    from etl_gcp_function_tmabrasil_spark.queries.relational3 import (
        _TRI_MAX_PART,
        AA_MAX_DEG,
        AA_TOPK,
        graph_adamic_adar,
    )

    li = (
        load_table(spark, SF_SMOKE, "lineitem")
        .filter(f"l_partkey < {_TRI_MAX_PART}")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    by_order: dict = defaultdict(set)
    for r in li:
        by_order[r.l_orderkey].add(r.l_partkey)
    edges = set()
    for parts in by_order.values():
        ps = sorted(parts)
        for i, u in enumerate(ps):
            for v in ps[i + 1 :]:
                edges.add((u, v))
    nbrs: dict = defaultdict(set)
    for u, v in edges:
        nbrs[u].add(v)
        nbrs[v].add(u)
    scores: dict = defaultdict(lambda: [0, 0])
    for w, nw in nbrs.items():
        if not (2 <= len(nw) <= AA_MAX_DEG):
            continue
        wt = round(10**12 / math.log(len(nw)))
        ns = sorted(nw)
        for i, x in enumerate(ns):
            for y in ns[i + 1 :]:
                if (x, y) in edges:
                    continue
                scores[(x, y)][0] += 1
                scores[(x, y)][1] += wt
    want = sorted(scores.items(), key=lambda kv: (-kv[1][1], kv[0]))[:AA_TOPK]
    got = graph_adamic_adar(spark, SF_SMOKE).collect()
    assert len(got) == len(want)
    for row, ((x, y), (cn, s)) in zip(got, want):
        assert (row.node_x, row.node_y) == (x, y)
        assert row.common_neighbors == cn
        assert row.aa_score == pytest.approx(s / 1e12, abs=2e-6)


def test_incremental_bloom_routes_match_python_bloom(spark):
    from etl_gcp_function_tmabrasil_spark.catalog import load_table
    from etl_gcp_function_tmabrasil_spark.queries.dedup_approx import (
        BLOOM_M,
        dedup_incremental_bloom,
    )

    docs = load_table(spark, SF_SMOKE, "documents").collect()
    key = {
        d.doc_id: hashlib.md5(
            re.sub(_WS, " ", d.text.strip()).encode()
        ).hexdigest()
        for d in docs
    }
    corpus = {k for i, k in key.items() if i % 10 != 0}
    bits = set()
    for k in corpus:
        bits.add(_hash60(f"b1#{k}") % BLOOM_M)
        bits.add(_hash60(f"b2#{k}") % BLOOM_M)
    want = {}
    for i, k in key.items():
        if i % 10 != 0:
            continue
        cand = (
            _hash60(f"b1#{k}") % BLOOM_M in bits
            and _hash60(f"b2#{k}") % BLOOM_M in bits
        )
        if not cand:
            want[i] = "bloom_miss"
        elif k not in corpus:
            want[i] = "verified_new"
        # else: true duplicate — not emitted
    got = {
        r.doc_id: r.route
        for r in dedup_incremental_bloom(spark, SF_SMOKE).collect()
    }
    assert got == want
    # the routing must be EXACT dedup: new docs = batch keys not in corpus
    assert set(got) == {
        i for i, k in key.items() if i % 10 == 0 and k not in corpus
    }


def test_length_bucketing_matches_python_counter(spark):
    from etl_gcp_function_tmabrasil_spark.catalog import load_table
    from etl_gcp_function_tmabrasil_spark.queries.traindata2 import (
        BUCKET_CAPS,
        BUCKET_OVERFLOW,
        batch_length_bucketing,
    )

    docs = load_table(spark, SF_SMOKE, "documents").collect()
    per_bucket: dict = defaultdict(lambda: [0, 0, 0])
    for d in docs:
        n_tok = len(re.sub(_WS, " ", d.text.strip()).split(" "))
        cap = next((c for c in BUCKET_CAPS if n_tok <= c), BUCKET_OVERFLOW)
        slot = per_bucket[cap]
        slot[0] += 1
        slot[1] += n_tok
        slot[2] += cap - n_tok
    got = {r.bucket_cap: r for r in batch_length_bucketing(spark, SF_SMOKE).collect()}
    assert set(got) == set(per_bucket)
    for cap, (n, st, pad) in per_bucket.items():
        r = got[cap]
        assert (r.n_docs, r.sum_tokens, r.pad_tokens) == (n, st, pad)
        assert r.pad_waste == pytest.approx(pad / (n * cap), abs=2e-6)


def test_readability_matches_python_regex(spark):
    from etl_gcp_function_tmabrasil_spark.catalog import load_table
    from etl_gcp_function_tmabrasil_spark.queries.text_analysis import (
        text_readability,
    )

    docs = load_table(spark, SF_SMOKE, "documents").collect()
    got = {r.doc_id: r for r in text_readability(spark, SF_SMOKE).collect()}
    assert len(got) == len(docs)
    for d in docs:
        w = len(re.sub(_WS, " ", d.text.strip()).split(" "))
        s = max(len(re.findall(r"[.!?]+", d.text)), 1)
        syl = max(len(re.findall(r"[aeiouy]+", d.text.lower())), 1)
        score = 206.835 - 1.015 * (w / s) - 84.6 * (syl / w)
        r = got[d.doc_id]
        assert (r.n_words, r.n_sentences, r.n_syllables) == (w, s, syl)
        assert r.flesch == pytest.approx(score, abs=2e-4)


@pytest.mark.parametrize("corpus", ["sf0.001", "tight", "iid"])
def test_radius_search_equals_bruteforce(spark, ann_corpus, corpus):
    """The cell prune never changes the result: on sf0.001, on 16 tight
    clusters of 125 (cells are clusters: >= 90% of (query, cell) pairs
    pruned, measured 119 of 128; mean silhouette 0.997) and on sf0.1's
    2,000 iid vectors (none pruned; mean silhouette 0.077)."""
    import numpy as np

    from etl_gcp_function_tmabrasil_spark.queries.similarity import (
        N_CELLS,
        N_QUERIES,
        RADIUS_COS,
        _radius_parts,
        ann_silhouette_cells,
        knn_radius_cells,
    )
    from tests.ann_corpora import query_cosines, vectors

    d = ann_corpus(corpus)
    cos = query_cosines(vectors(d), N_QUERIES)
    want = {(q, v) for q, v in zip(*np.nonzero(cos >= RADIUS_COS)) if q != v}
    got = {
        (r.query_id, r.neighbor_id) for r in knn_radius_cells(spark, d).collect()
    }
    assert got == want
    assert want, "fixture must exercise non-empty radius results"
    if corpus == "tight":
        kept = _radius_parts(spark, d)["probes"].count()
        assert 1 - kept / (N_QUERIES * N_CELLS) >= 0.9, kept
    if corpus != "sf0.001":
        cells = ann_silhouette_cells(spark, d).collect()
        n = sum(r.n_vectors for r in cells)
        mean = sum(r.mean_silhouette * r.n_vectors for r in cells) / n
        assert mean > 0.95 if corpus == "tight" else mean < 0.2, mean


def test_power_mde_matches_python_moments(spark):
    from etl_gcp_function_tmabrasil_spark.queries.analytics import (
        MDE_REL_TARGET,
        Z_ALPHA2,
        Z_BETA,
        stats_power_mde,
    )

    got = {r.event_type: r for r in stats_power_mde(spark, SF_SMOKE).collect()}
    per_user: dict = defaultdict(float)
    for e in _events(spark):
        per_user[(e.event_type, e.user_id)] += round(e.value, 4)
    by_type: dict = defaultdict(list)
    for (et, uid), y in per_user.items():
        by_type[et].append((uid % 2 == 0, y))
    for et, rows in by_type.items():
        ys = [y for _, y in rows]
        n = len(ys)
        mean = sum(ys) / n
        var = sum((y - mean) ** 2 for y in ys) / (n - 1)
        z = Z_ALPHA2 + Z_BETA
        n_a = sum(1 for a, _ in rows if a)
        n_b = n - n_a
        mde = z * math.sqrt(var) * math.sqrt(1 / n_a + 1 / n_b)
        r = got[et]
        assert (r.n_users_a, r.n_users_b) == (n_a, n_b)
        assert r.mean_y == pytest.approx(mean, abs=2e-6)
        assert r.mde_abs == pytest.approx(mde, abs=2e-5)
        assert r.n_per_arm_1pct == math.ceil(
            2 * z * z * var / (MDE_REL_TARGET * mean) ** 2
        )


def test_conformal_interval_matches_python_order_statistic(spark):
    from etl_gcp_function_tmabrasil_spark.queries.analytics import (
        CONF_ALPHA,
        conformal_interval_split,
    )

    got = {
        r.event_type: r
        for r in conformal_interval_split(spark, SF_SMOKE).collect()
    }
    train: dict = defaultdict(list)
    cal: dict = defaultdict(list)
    for e in _events(spark):
        (train if e.user_id % 2 == 0 else cal)[e.event_type].append(e.value)
    for et in got:
        # predictor mean at 4dp-exact sums, rounded 6dp like the engine
        yhat = round(sum(round(v, 4) for v in train[et]) / len(train[et]), 6)
        resid = sorted(abs(v - yhat) for v in cal[et])
        n = len(resid)
        k = min(math.ceil((1 - CONF_ALPHA) * (n + 1)), n)
        q = round(resid[k - 1], 6)
        r = got[et]
        assert (r.n_train, r.n_cal) == (len(train[et]), n)
        assert r.q90 == pytest.approx(q, abs=1e-9)
        # the conformal guarantee: coverage >= k/(n+1) ~ 1 - alpha
        cov = sum(1 for x in resid if x <= q) / n
        assert r.coverage == pytest.approx(cov, abs=2e-6)
        assert r.valid == (cov >= 1 - CONF_ALPHA)


def test_stream_scd2_asof_matches_python_interval_scan(spark):
    """The streaming gate's rollup must equal a plain-Python as-of
    join: for each event, walk the user's date-ordered order history
    and pick the version valid at the event's timestamp."""
    from collections import defaultdict as dd

    from etl_gcp_function_tmabrasil_spark.catalog import load_table
    from etl_gcp_function_tmabrasil_spark.queries.streaming_gate import (
        stream_scd2_asof_enrichment,
    )

    got = {
        r.priority: (r.n, r.n_users, r.sum_value)
        for r in stream_scd2_asof_enrichment(spark, SF_SMOKE).collect()
    }
    orders = load_table(spark, SF_SMOKE, "orders").collect()
    hist: dict = dd(list)
    for o in orders:
        hist[o.o_custkey].append((o.o_orderdate, o.o_orderkey, o.o_orderpriority))
    for h in hist.values():
        h.sort()
    agg: dict = dd(lambda: [0, set(), 0.0])
    for e in load_table(spark, SF_SMOKE, "events").collect():
        prio = "none"
        versions = hist.get(e.user_id, [])
        for i, (d, _, p) in enumerate(versions):
            nxt = versions[i + 1][0] if i + 1 < len(versions) else None
            if e.ts >= d and (nxt is None or e.ts < nxt):
                prio = p
                break
        slot = agg[prio]
        slot[0] += 1
        slot[1].add(e.user_id)
        slot[2] += round(e.value, 2)
    assert set(got) == set(agg)
    for p, (n, users, sv) in agg.items():
        assert got[p][0] == n and got[p][1] == len(users)
        assert got[p][2] == pytest.approx(sv, abs=1e-6)


def test_promote_staged_is_metadata_only_and_idempotent(spark, tmp_path):
    import os

    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        _manifests,
        commit_snapshot,
        promote_staged,
        read_snapshot,
    )

    main = str(tmp_path / "main")
    stage = str(tmp_path / "stage")
    commit_snapshot(spark.range(0, 5), main)
    commit_snapshot(spark.range(5, 9), stage)
    before = sorted(os.listdir(os.path.join(main, "data")))
    info = promote_staged(stage, main, txn_id="t1")
    assert info["version"] == 2 and info["files_referenced"] > 0
    assert sorted(os.listdir(os.path.join(main, "data"))) == before
    assert sorted(
        r.id for r in read_snapshot(spark, main).collect()
    ) == list(range(9))
    # idempotent replay
    again = promote_staged(stage, main, txn_id="t1")
    assert again["version"] == 2
    assert _manifests(main) == [1, 2]
    # schema drift is rejected
    drifted = str(tmp_path / "drift")
    commit_snapshot(spark.range(3).selectExpr("cast(id as string) as id"), drifted)
    with pytest.raises(ValueError, match="schema drift"):
        promote_staged(drifted, main)

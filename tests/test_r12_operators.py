"""Independent brute-force verification of the round-12 wave.

Every query here is also oracle-gated (Spark vs DuckDB), but oracle
twins share the AUTHOR — a misconception encoded in both sides hashes
green. These tests recompute each operator from its DEFINITION in
plain Python over collected sf0.001 rows: sorted-neighborhood pairs
via an actual sort + window scan, label propagation via a dict-based
synchronous update, Fellegi-Sunter weights via the textbook log-ratio
sum, the delta-method variance via numpy moments, path top-k via
Counter, and the two new ANN paths via brute-force numpy cosines/L2
on planted fixtures.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from tests.conftest import SF_SMOKE


def test_sorted_neighborhood_matches_python_scan(spark):
    import re

    from etl_gcp_function_tmabrasil_spark.catalog import load_table
    from etl_gcp_function_tmabrasil_spark.queries.dedup_approx import (
        SNM_KEY_LEN,
        SNM_MIN_JACCARD,
        SNM_WINDOW,
        dedup_sorted_neighborhood,
    )

    # the operator orients pairs by SORT position (doc_a = earlier in
    # the key order); canonicalize to (min, max) ids for comparison
    got = {
        (min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b)): r.jaccard
        for r in dedup_sorted_neighborhood(spark, SF_SMOKE).collect()
    }
    docs = load_table(spark, SF_SMOKE, "documents").collect()
    norm = {
        d.doc_id: re.sub(r"\s+", " ", d.text.strip()).lower() for d in docs
    }
    order = sorted(norm, key=lambda i: (norm[i][:SNM_KEY_LEN], i))
    want = {}
    for i, a in enumerate(order):
        for b in order[i + 1 : i + 1 + SNM_WINDOW]:
            ta, tb = set(norm[a].split(" ")), set(norm[b].split(" "))
            j = round(len(ta & tb) / len(ta | tb), 4)
            if j >= SNM_MIN_JACCARD:
                want[(min(a, b), max(a, b))] = j
    assert got == want


def test_label_propagation_matches_python_sync_update(spark):
    from etl_gcp_function_tmabrasil_spark.catalog import load_table
    from etl_gcp_function_tmabrasil_spark.queries.relational3 import (
        _TRI_MAX_PART,
        LPA_ROUNDS,
        graph_label_propagation,
    )

    li = (
        load_table(spark, SF_SMOKE, "lineitem")
        .filter(f"l_partkey < {_TRI_MAX_PART}")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    by_order = defaultdict(set)
    for r in li:
        by_order[r.l_orderkey].add(r.l_partkey)
    adj = defaultdict(set)
    for parts in by_order.values():
        ps = sorted(parts)
        for i, u in enumerate(ps):
            for v in ps[i + 1 :]:
                adj[u].add(v)
                adj[v].add(u)
    label = {n: n for n in adj}
    for _ in range(LPA_ROUNDS):
        nxt = {}
        for n in adj:
            cnt = Counter(label[m] for m in adj[n])
            best = min(
                cnt, key=lambda lab: (-cnt[lab], lab)
            )  # max count, min label
            nxt[n] = best
        label = nxt
    want = Counter(label.values())
    want_rows = sorted(
        (
            (lab, c, min(n for n in label if label[n] == lab))
            for lab, c in want.items()
            if c >= 2
        ),
        key=lambda t: (-t[1], t[0]),
    )
    got = [
        (r.label, r.n_members, r.min_part)
        for r in graph_label_propagation(spark, SF_SMOKE).collect()
    ]
    assert got == want_rows


def test_fellegi_sunter_weights_match_textbook_sum(spark):
    from etl_gcp_function_tmabrasil_spark.catalog import load_table
    from etl_gcp_function_tmabrasil_spark.queries.dedup_approx import (
        FS_BAL_BAND,
        FS_M,
        link_fellegi_sunter,
    )

    cust = {
        r.c_custkey: r
        for r in load_table(spark, SF_SMOKE, "customer").collect()
    }

    def u_of(vals):
        c = Counter(vals)
        n = len(vals)
        return sum(v * (v - 1) for v in c.values()) / (n * (n - 1))

    u = {
        "nation": u_of([r.c_nationkey for r in cust.values()]),
        "segment": u_of([r.c_mktsegment for r in cust.values()]),
        "bal_band": u_of(
            [math.floor(r.c_acctbal / FS_BAL_BAND) for r in cust.values()]
        ),
    }
    rows = link_fellegi_sunter(spark, SF_SMOKE).collect()
    assert rows, "FastSS blocking found no candidate pairs"
    for r in rows:
        a, b = cust[r.key1], cust[r.key2]
        agree = {
            "nation": a.c_nationkey == b.c_nationkey,
            "segment": a.c_mktsegment == b.c_mktsegment,
            "bal_band": math.floor(a.c_acctbal / FS_BAL_BAND)
            == math.floor(b.c_acctbal / FS_BAL_BAND),
        }
        w = sum(
            math.log2(FS_M[f] / u[f])
            if agree[f]
            else math.log2((1 - FS_M[f]) / (1 - u[f]))
            for f in FS_M
        )
        assert abs(r.weight - w) < 1e-3, (r, w)
        # agreement flags surfaced faithfully
        assert (r.agree_nation, r.agree_segment, r.agree_bal_band) == (
            int(agree["nation"]),
            int(agree["segment"]),
            int(agree["bal_band"]),
        )
    # flipping any single field disagree->agree strictly increases the
    # weight (m > u for every field here), so full agreement is the
    # maximum pattern
    full = [r.weight for r in rows if r.agree_nation and r.agree_segment and r.agree_bal_band]
    if full:
        assert max(r.weight for r in rows) == max(full)


def test_ratio_delta_matches_numpy_moments(spark):
    import numpy as np

    from etl_gcp_function_tmabrasil_spark.catalog import load_table
    from etl_gcp_function_tmabrasil_spark.queries.analytics import (
        ab_test_ratio_delta,
    )

    ev = load_table(spark, SF_SMOKE, "events").collect()
    per = defaultdict(lambda: [0.0, 0])
    for r in ev:
        k = (r.event_type, r.user_id)
        per[k][0] += round(r.value, 4)
        per[k][1] += 1
    got = {
        r.event_type: r for r in ab_test_ratio_delta(spark, SF_SMOKE).collect()
    }
    types = {t for t, _ in per}
    for t in types:
        for parity, sfx in ((0, "a"), (1, "b")):
            xs = np.array(
                [v[0] for (tt, u), v in per.items() if tt == t and u % 2 == parity]
            )
            ys = np.array(
                [v[1] for (tt, u), v in per.items() if tt == t and u % 2 == parity]
            )
            n = len(xs)
            r_hat = xs.sum() / ys.sum()
            s = np.cov(xs, ys, ddof=1)
            var = (
                s[0, 0] - 2 * r_hat * s[0, 1] + r_hat**2 * s[1, 1]
            ) / (n * (ys.mean() ** 2))
            row = got[t]
            assert abs(getattr(row, f"ratio_{sfx}") - r_hat) < 1e-4, (t, sfx)
            # reconstruct z from the two variances
            if sfx == "b":
                xa = np.array(
                    [v[0] for (tt, u), v in per.items() if tt == t and u % 2 == 0]
                )
                ya = np.array(
                    [v[1] for (tt, u), v in per.items() if tt == t and u % 2 == 0]
                )
                na = len(xa)
                ra = xa.sum() / ya.sum()
                sa = np.cov(xa, ya, ddof=1)
                va = (
                    sa[0, 0] - 2 * ra * sa[0, 1] + ra**2 * sa[1, 1]
                ) / (na * (ya.mean() ** 2))
                z = (ra - r_hat) / math.sqrt(va + var)
                assert abs(row.z_stat - z) < 1e-3, (t, row.z_stat, z)


def test_path_topk_matches_counter(spark):
    from etl_gcp_function_tmabrasil_spark.catalog import load_table
    from etl_gcp_function_tmabrasil_spark.queries.analytics import (
        PATH_TOPK,
        seq_path_topk,
    )

    ev = load_table(spark, SF_SMOKE, "events").collect()
    sess = defaultdict(list)
    for r in ev:
        sess[(r.user_id, r.ts.strftime("%Y-%m-%d"))].append(
            (r.ts, r.event_id, r.event_type[0])
        )
    paths = Counter(
        "".join(c for _, _, c in sorted(v)) for v in sess.values()
    )
    want = sorted(paths.items(), key=lambda kv: (-kv[1], kv[0]))[:PATH_TOPK]
    total = sum(paths.values())
    got = seq_path_topk(spark, SF_SMOKE).collect()
    assert [(r.path, r.n_sessions) for r in got] == want
    for r in got:
        assert abs(r.share - r.n_sessions / total) < 1e-6
    assert [r.rank for r in got] == list(range(1, len(got) + 1))


def test_ivfpq_rerank_dominates_adc_only(spark, tmp_path, monkeypatch):
    """IVFADC-R on the planted-cluster fixture: every emitted neighbor
    comes from the ADC pool, the emission is ordered by TRUE distance,
    and recall@5 >= the code-only ivfpq ranking (exact re-ordering of
    a superset can only help)."""
    import numpy as np

    from etl_gcp_function_tmabrasil_spark.queries import similarity as sim
    from tests.ann_corpora import build_clustered

    d = str(tmp_path / "clustered")
    build_clustered(d, n_clusters=200, per=6)
    monkeypatch.setattr(sim, "TOP_K", 5)
    monkeypatch.setattr(sim, "PQ_QUERIES", 5)
    plain = {}
    for r in sim.ann_ivfpq(spark, d).collect():
        plain.setdefault(r.query_id, set()).add(r.vec_id)
    rer_rows = sim.ann_ivfpq_rerank(spark, d).collect()
    rer = {}
    for r in rer_rows:
        rer.setdefault(r.query_id, []).append(r)

    rows = (
        spark.read.parquet(d + "/embeddings.parquet")
        .selectExpr("vec_id", "cast(embedding as array<double>) e")
        .collect()
    )
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.e for r in rows])
    hits_plain = hits_rer = 0
    for q in range(5):
        qi = int(np.where(ids == q)[0][0])
        dist = ((mat - mat[qi]) ** 2).sum(axis=1)
        order = np.lexsort((ids, dist))
        exact = {int(ids[j]) for j in order if ids[j] != q}
        exact = set(
            sorted(exact, key=lambda v: (dist[np.where(ids == v)[0][0]], v))[:5]
        )
        hits_plain += len(exact & plain.get(q, set()))
        hits_rer += len(exact & {r.vec_id for r in rer.get(q, [])})
        seq = sorted(rer[q], key=lambda r: r.rank)
        tds = [r.true_sqdist for r in seq]
        assert tds == sorted(tds), "re-rank not ordered by true distance"
    assert hits_rer >= hits_plain
    assert hits_rer / 25 >= 0.8


def test_multiband_lsh_top1_is_best_bucketmate(spark, tmp_path, monkeypatch):
    """On a planted-cluster fixture every vector's multiband top-1 must
    be its TRUE cosine nearest neighbor (cluster mates share all bands
    at sigma=0.05 with 8-bit bands), and shared_bands is within
    [1, MB_BANDS]."""
    import numpy as np

    from etl_gcp_function_tmabrasil_spark.queries import similarity as sim
    from tests.ann_corpora import build_clustered

    d = str(tmp_path / "clustered")
    build_clustered(d, n_clusters=60, per=5)
    got = {
        r.query_id: r for r in sim.ann_lsh_multiband(spark, d).collect()
    }
    rows = (
        spark.read.parquet(d + "/embeddings.parquet")
        .selectExpr("vec_id", "cast(embedding as array<double>) e")
        .collect()
    )
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.e for r in rows])
    nrm = np.linalg.norm(mat, axis=1)
    hit = 0
    for r in rows:
        qi = int(np.where(ids == r.vec_id)[0][0])
        cos = (mat @ mat[qi]) / (nrm * nrm[qi])
        cos[qi] = -2
        best = int(ids[int(np.argmax(cos))])
        g = got.get(r.vec_id)
        if g is not None:
            assert 1 <= g.shared_bands <= sim.MB_BANDS
            if g.neighbor_id == best:
                hit += 1
    assert hit / len(rows) >= 0.9, f"top-1 hit rate {hit/len(rows)}"

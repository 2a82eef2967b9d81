"""Independent brute-force verification of the round-11 wave.

Every query here is also oracle-gated (Spark vs DuckDB), but oracle
twins share the AUTHOR — a misconception encoded in both sides hashes
green. These tests recompute each operator from its DEFINITION in
plain Python over collected sf0.001 rows: Spearman via sorted
mid-ranks, ACF via the demeaned-product formula, the Zipf fit via a
two-variable least squares on raw log points, URL canonicalization
via an independent string routine, DSIR weights via dict-counted
bigram histograms, BFS via a queue, and MMR via the greedy textbook
loop over numpy cosines.
"""

from __future__ import annotations

import hashlib
import math
import unicodedata
from collections import Counter, defaultdict, deque

from tests.conftest import SF_SMOKE


def _docs(spark):
    from etl_gcp_function_tmabrasil_spark.catalog import load_table

    return load_table(spark, SF_SMOKE, "documents").collect()


def test_spearman_matches_midrank_definition(spark):
    from etl_gcp_function_tmabrasil_spark.catalog import load_table
    from etl_gcp_function_tmabrasil_spark.queries.aggregates import (
        agg_spearman_corr,
    )

    rows = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    ).collect()
    groups = defaultdict(list)
    for r in rows:
        groups[r.l_returnflag].append(
            (float(r.l_quantity), float(r.l_extendedprice))
        )

    def midranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        ranks = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j + 1 < len(order) and vals[order[j + 1]] == vals[order[i]]:
                j += 1
            avg = (i + j) / 2 + 1
            for k in range(i, j + 1):
                ranks[order[k]] = avg
            i = j + 1
        return ranks

    got = {r.l_returnflag: r for r in agg_spearman_corr(spark, SF_SMOKE).collect()}
    assert set(got) == set(groups)
    for flag, pts in groups.items():
        rx = midranks([p[0] for p in pts])
        ry = midranks([p[1] for p in pts])
        n = len(pts)
        mx, my = sum(rx) / n, sum(ry) / n
        num = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
        den = math.sqrt(
            sum((a - mx) ** 2 for a in rx) * sum((b - my) ** 2 for b in ry)
        )
        assert got[flag].n_rows == n
        assert abs(got[flag].spearman_rho - num / den) < 1e-5, flag


def test_count_min_sketch_guarantees_hold(spark):
    from etl_gcp_function_tmabrasil_spark.queries.aggregates import (
        agg_count_min_sketch,
    )

    rows = agg_count_min_sketch(spark, SF_SMOKE).collect()
    assert rows and all(r.never_under for r in rows)
    assert all(r.within_bound for r in rows)


def test_acf_matches_demeaned_product_definition(spark):
    from etl_gcp_function_tmabrasil_spark.catalog import load_table
    from etl_gcp_function_tmabrasil_spark.queries.analytics import (
        ACF_MAX_LAG,
        timeseries_acf,
    )

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_type", "ts", "event_id", "value"
    ).collect()
    series = defaultdict(list)
    for r in ev:
        series[r.event_type].append((r.ts, r.event_id, float(r.value)))
    got = {r.event_type: r for r in timeseries_acf(spark, SF_SMOKE).collect()}
    assert set(got) == set(series)
    for et, pts in series.items():
        xs = [v for _, _, v in sorted(pts, key=lambda p: (p[0], p[1]))]
        mu = sum(xs) / len(xs)
        den = sum((x - mu) ** 2 for x in xs)
        for lag in range(1, ACF_MAX_LAG + 1):
            num = sum(
                (xs[t] - mu) * (xs[t - lag] - mu)
                for t in range(lag, len(xs))
            )
            assert abs(got[et][f"acf_lag{lag}"] - num / den) < 1e-4, (et, lag)


def test_zipf_fit_matches_least_squares(spark):
    from etl_gcp_function_tmabrasil_spark.queries.curation_ops import (
        ZIPF_TOP_N,
        vocab_zipf_fit,
    )

    counts = Counter()
    for r in _docs(spark):
        counts.update(r.text.split(" "))
    head = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:ZIPF_TOP_N]
    pts = [
        (math.log(i + 1), math.log(tf)) for i, (_, tf) in enumerate(head)
    ]
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxx = sum(x * x for x, _ in pts)
    sxy = sum(x * y for x, y in pts)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    row = vocab_zipf_fit(spark, SF_SMOKE).collect()[0]
    assert row.n_head_tokens == n
    assert abs(row.zipf_slope - slope) < 1e-4
    assert row.zipf_slope < 0  # frequency decays with rank
    assert 0 <= row.r_squared <= 1


def _canon_py(url: str) -> str:
    u = url.split("#")[0]
    scheme, rest = u.split("://", 1)
    cut = len(rest)
    for ch in "/?":
        if ch in rest:
            cut = min(cut, rest.index(ch))
    hostport, tail = rest[:cut], rest[cut:]
    host = hostport.lower()
    if host.endswith(":443"):
        host = host[:-4]
    if host.startswith("www."):
        host = host[4:]
    path, _, query = tail.partition("?")
    if path.endswith("/"):
        path = path[:-1]
    keep = [
        p
        for p in (query.split("&") if query else [])
        if p
        and not p.split("=")[0].startswith("utm_")
        and p.split("=")[0] not in ("gclid", "fbclid")
    ]
    q = "&".join(keep)
    return scheme.lower() + "://" + host + path + ("?" + q if q else "")


def test_url_canonicalization_matches_independent_routine(spark):
    from etl_gcp_function_tmabrasil_spark.catalog import load_table
    from etl_gcp_function_tmabrasil_spark.queries.curation_ops import (
        URL_TOP_N,
        dedup_url_canonical,
    )

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey"
    ).collect()
    counts = Counter()
    reprs = defaultdict(set)
    for r in orders:
        k, item, shop = r.o_orderkey, r.o_orderkey % 500, r.o_orderkey % 3
        v = k % 4
        if v == 0:
            url = f"https://www.shop{shop}.com/item/{item}"
        elif v == 1:
            url = f"HTTPS://WWW.SHOP{shop}.COM/item/{item}/"
        elif v == 2:
            url = (
                f"https://shop{shop}.com/item/{item}"
                "?utm_source=news&gclid=xyz#frag"
            )
        else:
            url = (
                f"https://www.shop{shop}.com:443/item/{item}"
                f"?ref={r.o_custkey % 7}"
            )
        c = _canon_py(url)
        counts[c] += 1
        reprs[c].add(url)
    expected = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[
        :URL_TOP_N
    ]
    got = dedup_url_canonical(spark, SF_SMOKE).collect()
    assert [(r.canonical_url, r.n_raw) for r in got] == expected
    for r in got:
        assert r.n_representations == len(reprs[r.canonical_url])


def test_dsir_weights_match_dict_counted_reference(spark):
    from etl_gcp_function_tmabrasil_spark.queries.traindata2 import (
        DSIR_BUCKETS,
        DSIR_TOP_N,
        sample_importance_dsir,
    )

    def bucket(pair: str) -> int:
        return int(hashlib.md5(pair.encode()).hexdigest()[:15], 16) % (
            DSIR_BUCKETS
        )

    ht, hr = Counter(), Counter()
    per_doc = {}
    for r in _docs(spark):
        toks = r.text.split(" ")
        bs = [bucket(a + " " + b) for a, b in zip(toks, toks[1:])]
        if r.source == "src0":
            ht.update(bs)
        else:
            hr.update(bs)
            per_doc[r.doc_id] = bs
    nt, nr = sum(ht.values()), sum(hr.values())
    lr = {
        b: round(
            math.log((ht[b] + 1) / (nt + DSIR_BUCKETS))
            - math.log((hr[b] + 1) / (nr + DSIR_BUCKETS)),
            8,
        )
        for b in range(DSIR_BUCKETS)
    }
    weights = {
        d: sum(lr[b] for b in bs) for d, bs in per_doc.items()
    }
    expected = sorted(
        weights.items(), key=lambda kv: (-kv[1], kv[0])
    )[:DSIR_TOP_N]
    got = sample_importance_dsir(spark, SF_SMOKE).collect()
    assert [r.doc_id for r in got] == [d for d, _ in expected]
    for r, (_, w) in zip(got, expected):
        assert abs(r.log_weight - w) < 1e-4, r.doc_id


def test_nfc_profile_matches_unicodedata(spark):
    from etl_gcp_function_tmabrasil_spark.queries.text_analysis import (
        text_unicode_nfc_profile,
    )

    per_source = defaultdict(lambda: [0, 0, 0, 0])
    for r in _docs(spark):
        if r.doc_id % 3 == 0:
            raw = r.text.replace("a", "á")
        elif r.doc_id % 3 == 1:
            raw = r.text.replace("e", "é")
        else:
            raw = r.text
        nfc = unicodedata.normalize("NFC", raw)
        s = per_source[r.source]
        s[0] += 1
        s[1] += int(nfc != raw)
        s[2] += len(raw)
        s[3] += len(nfc)
    got = text_unicode_nfc_profile(spark, SF_SMOKE).collect()
    assert {r.source for r in got} == set(per_source)
    changed_total = 0
    for r in got:
        e = per_source[r.source]
        assert (r.n_docs, r.n_changed, r.cp_before, r.cp_after) == tuple(e)
        changed_total += r.n_changed
    assert changed_total > 0  # the fixture actually exercises NFC


def test_nfc_profile_keeps_null_documents(spark, tmp_path):
    """A NULL text stays NULL through the NFC UDF, as through DuckDB's
    nfc_normalize, so the profile matches its oracle."""
    import duckdb

    from etl_gcp_function_tmabrasil_spark.queries.text_analysis import (
        ORACLE,
        text_unicode_nfc_profile,
    )
    from tests.oracle_check import compare

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * REPLACE (CASE WHEN doc_id % 7 = 0"
        f" THEN NULL ELSE text END AS text) FROM '{SF_SMOKE}/documents.parquet'"
    )
    con.execute(f"COPY documents TO '{tmp_path}/documents.parquet' (FORMAT parquet)")
    oracle = con.execute(ORACLE["text_unicode_nfc_profile"]).fetchdf()
    got = text_unicode_nfc_profile(spark, str(tmp_path))
    assert compare(got, oracle, "text_unicode_nfc_profile") == []


def test_bfs_matches_queue_reference(spark):
    from etl_gcp_function_tmabrasil_spark.catalog import load_table
    from etl_gcp_function_tmabrasil_spark.queries.relational3 import (
        _TRI_MAX_PART,
        BFS_MAX_HOPS,
        BFS_SEEDS,
        graph_bfs_distances,
    )

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).collect()
    by_order = defaultdict(set)
    for r in li:
        if r.l_partkey < _TRI_MAX_PART:
            by_order[r.l_orderkey].add(r.l_partkey)
    adj = defaultdict(set)
    for parts in by_order.values():
        ps = sorted(parts)
        for i, u in enumerate(ps):
            for v in ps[i + 1:]:
                adj[u].add(v)
                adj[v].add(u)
    nodes = sorted(adj)
    seeds = nodes[:BFS_SEEDS]
    dist = {s: 0 for s in seeds}
    q = deque(seeds)
    while q:
        u = q.popleft()
        if dist[u] >= BFS_MAX_HOPS:
            continue
        for v in adj[u]:
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    hist = Counter(dist.get(n, -1) for n in nodes)
    mins = defaultdict(lambda: None)
    for n in nodes:
        h = dist.get(n, -1)
        if mins[h] is None or n < mins[h]:
            mins[h] = n
    got = graph_bfs_distances(spark, SF_SMOKE).collect()
    assert {(r.hops, r.n_parts, r.min_part) for r in got} == {
        (h, c, mins[h]) for h, c in hist.items()
    }


def test_mmr_matches_greedy_reference(spark):
    import numpy as np

    from etl_gcp_function_tmabrasil_spark.catalog import load_table
    from etl_gcp_function_tmabrasil_spark.queries.similarity import (
        MMR_K,
        MMR_POOL,
        N_QUERIES,
        knn_mmr_rerank,
    )

    rows = load_table(spark, SF_SMOKE, "embeddings").collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    norms = {k: float(np.sqrt((v * v).sum())) for k, v in vecs.items()}

    def cos(a, b):
        return round(
            float(vecs[a] @ vecs[b]) / (norms[a] * norms[b]), 4
        )

    got = defaultdict(list)
    for r in knn_mmr_rerank(spark, SF_SMOKE).collect():
        got[r.query_id].append((r.step, r.selected_id, r.mmr_score))
    for qid in range(N_QUERIES):
        rel = {
            v: cos(qid, v) for v in vecs if v != qid
        }
        pool = sorted(rel, key=lambda v: (-rel[v], v))[:MMR_POOL]
        selected = []
        for _ in range(MMR_K):
            best = None
            for c in pool:
                if c in selected:
                    continue
                m = max((cos(c, s) for s in selected), default=0.0)
                # exact integer arithmetic on the 4-dp grid — the
                # engines' decimal domain (0.7*rel - 0.3*m, scaled 1e5)
                score10k = 7 * int(round(rel[c] * 10000)) - 3 * int(
                    round(m * 10000)
                )
                key = (-score10k, c)
                if best is None or key < best[0]:
                    best = (key, c)
            selected.append(best[1])
        assert [v for _, v, _ in sorted(got[qid])] == selected, qid


def test_exchange_reuse_shares_sum_to_one(spark):
    from etl_gcp_function_tmabrasil_spark.queries.sources_gate import (
        plan_exchange_reuse,
    )

    rows = plan_exchange_reuse(spark, SF_SMOKE).collect()
    by_flag = defaultdict(float)
    for r in rows:
        by_flag[r.l_returnflag] += r.share
    for flag, s in by_flag.items():
        assert abs(s - 1.0) < 1e-3, (flag, s)


def test_optimize_layout_reclusters_without_changing_content(spark, tmp_path):
    from pyspark.sql import functions as F

    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        commit_snapshot,
        optimize_layout,
        read_snapshot,
        snapshot_files,
    )

    table = str(tmp_path / "t")
    # interleaved key: time-sorted layout defeats min/max pruning on k
    df = spark.range(400).selectExpr("id", "id % 16 AS k")
    commit_snapshot(df.repartitionByRange(4, "id"), table, stats_cols=["k"])
    assert len(snapshot_files(table, prune={"k": (3, 4)})) == 4
    v2 = optimize_layout(spark, table, "k", 4)
    kept = snapshot_files(table, v2, prune={"k": (3, 4)})
    assert 0 < len(kept) < 4
    ids_before = sorted(r.id for r in read_snapshot(spark, table, 1).collect())
    ids_after = sorted(r.id for r in read_snapshot(spark, table, v2).collect())
    assert ids_before == ids_after  # content identical, layout new
    # rows inside each optimized file are sorted by the cluster expr
    one = spark.read.parquet(kept[0]).select("k").collect()
    ks = [r.k for r in one]
    assert ks == sorted(ks)


def test_complete_leaderboard_equals_batch_and_survives_reinvocation(spark):
    from etl_gcp_function_tmabrasil_spark.catalog import load_table
    from etl_gcp_function_tmabrasil_spark.queries.streaming_gate import (
        stream_complete_leaderboard,
    )

    got = stream_complete_leaderboard(spark, SF_SMOKE).collect()
    batch = {
        (r.event_type, r.n)
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert {(r.event_type, r.n) for r in got} == batch
    # second invocation in the same process must return the snapshot,
    # not an empty no-op-restart memory table
    again = stream_complete_leaderboard(spark, SF_SMOKE).collect()
    assert {(r.event_type, r.n) for r in again} == batch


def test_phash_matches_byte_reference(spark):
    from etl_gcp_function_tmabrasil_spark.operators.multimodal import (
        encode_fake_media,
    )
    from etl_gcp_function_tmabrasil_spark.queries.multimodal_q import (
        _N_MEDIA,
        DHASH_BITS,
        multimodal_phash_dedup,
    )

    clusters = Counter()
    reps = {}
    for i in range(_N_MEDIA):
        kind = ["image", "audio", "video"][i % 3]
        frames = 1 + i % 7
        body = bytes((i * 31 + j) % 251 for j in range(frames))
        pairs = min(DHASH_BITS, max(len(body) - 1, 0))
        h = 0
        for j in range(pairs):
            if body[j + 1] > body[j]:
                h |= 1 << j
        key = (kind, pairs, h)
        clusters[key] += 1
        reps.setdefault(key, i)
        # sanity: the encoded payload's body is exactly these bytes
        assert encode_fake_media(i, kind, 64, 48, frames).endswith(body)
    expected = {
        (k, p, h, n, reps[(k, p, h)])
        for (k, p, h), n in clusters.items()
        if n >= 2
    }
    got = {
        (r.kind, r.n_pairs, r.dhash, r.n_media, r.rep_media)
        for r in multimodal_phash_dedup(spark, SF_SMOKE).collect()
    }
    assert got == expected
    assert got  # the corpus actually produces near-dup clusters


def test_funnel_ttc_matches_interpolated_quantiles(spark):
    from etl_gcp_function_tmabrasil_spark.catalog import load_table
    from etl_gcp_function_tmabrasil_spark.queries.analytics import (
        funnel_time_to_convert,
    )

    ev = load_table(spark, SF_SMOKE, "events").select(
        "user_id", "event_type", "ts"
    ).collect()
    firsts = defaultdict(lambda: [None, None])
    for r in ev:
        if r.event_type == "view":
            cur = firsts[r.user_id][0]
            if cur is None or r.ts < cur:
                firsts[r.user_id][0] = r.ts
        elif r.event_type == "purchase":
            cur = firsts[r.user_id][1]
            if cur is None or r.ts < cur:
                firsts[r.user_id][1] = r.ts
    delays = defaultdict(list)
    for v, p in firsts.values():
        if v is not None and p is not None and p > v:
            dow = (v.weekday() + 1) % 7  # python Mon=0 -> Sunday=0
            delays[dow].append(
                math.floor(p.timestamp()) - math.floor(v.timestamp())
            )

    def qcont(vals, q):
        s = sorted(vals)
        pos = (len(s) - 1) * q
        lo, hi = math.floor(pos), math.ceil(pos)
        return s[lo] + (s[hi] - s[lo]) * (pos - lo)

    got = {r.view_dow: r for r in funnel_time_to_convert(spark, SF_SMOKE).collect()}
    assert set(got) == set(delays)
    for dow, ds in delays.items():
        g = got[dow]
        assert g.n_converters == len(ds), dow
        assert abs(g.median_s - qcont(ds, 0.5)) < 1e-6, dow
        assert abs(g.p25_s - qcont(ds, 0.25)) < 1e-6, dow
        assert abs(g.p75_s - qcont(ds, 0.75)) < 1e-6, dow


def test_bootstrap_ci_matches_hash_seeded_reference(spark):
    from etl_gcp_function_tmabrasil_spark.catalog import load_table
    from etl_gcp_function_tmabrasil_spark.queries.analytics import (
        _POIS_CDF,
        BOOT_REPLICAS,
        stats_bootstrap_ci,
    )

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_type", "event_id", "value"
    ).collect()
    sums = defaultdict(lambda: defaultdict(float))
    wsum = defaultdict(lambda: defaultdict(int))
    points = defaultdict(list)
    for r in ev:
        points[r.event_type].append(r.value)
        for rep in range(BOOT_REPLICAS):
            u = int(
                hashlib.md5(f"{r.event_id}#{rep}".encode()).hexdigest()[:15],
                16,
            ) / float(1 << 60)
            w = len(_POIS_CDF)
            for k, thr in enumerate(_POIS_CDF):
                if u < thr:
                    w = k
                    break
            if w:
                # engine order: per-term rounding of v*w to decimal(18,4)
                sums[r.event_type][rep] += round(r.value * w, 4)
                wsum[r.event_type][rep] += w
    got = {r.event_type: r for r in stats_bootstrap_ci(spark, SF_SMOKE).collect()}
    assert set(got) == set(points)
    for et, vals in points.items():
        g = got[et]
        assert abs(g.point_mean - sum(vals) / len(vals)) < 1e-4
        ms = sorted(
            sums[et][rep] / wsum[et][rep] for rep in sums[et]
        )
        assert g.n_replicas == len(ms)

        def qc(p):
            pos = (BOOT_REPLICAS - 1) * p
            lo, hi = math.floor(pos), math.ceil(pos)
            return ms[lo] + (ms[hi] - ms[lo]) * (pos - lo)

        assert abs(g.ci_lo - qc(0.025)) < 1e-4, et
        assert abs(g.ci_hi - qc(0.975)) < 1e-4, et
        assert g.ci_lo <= g.point_mean <= g.ci_hi, et


def test_incremental_join_view_gate_runs(spark):
    """The gate's own hard-checks (non-empty delta terms, time-travel
    row retention) plus the share identity: the maintained view's
    totals must equal a direct in-memory join."""
    from etl_gcp_function_tmabrasil_spark.catalog import load_table
    from etl_gcp_function_tmabrasil_spark.queries.sources_gate import (
        sink_incremental_join_view,
    )

    got = {
        r.c_mktsegment: (r.n_orders, r.total_price)
        for r in sink_incremental_join_view(spark, SF_SMOKE).collect()
    }
    direct = (
        load_table(spark, SF_SMOKE, "orders")
        .join(
            load_table(spark, SF_SMOKE, "customer"),
            load_table(spark, SF_SMOKE, "orders").o_custkey
            == load_table(spark, SF_SMOKE, "customer").c_custkey,
        )
        .groupBy("c_mktsegment")
        .count()
        .collect()
    )
    assert {r.c_mktsegment: r["count"] for r in direct} == {
        k: v[0] for k, v in got.items()
    }

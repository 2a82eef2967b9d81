"""Independent brute-force verification of the round-14 wave.

Same contract as tests/test_r13_operators.py: every registered query is
oracle-gated, but these tests recompute each operator from its
DEFINITION in plain Python over collected sf0.001 rows, so an author-
shared misconception in both the Spark and SQL twins cannot hash green
here. Also covers the r13-ADVICE hardening (promote_staged file
rebasing, the radius-ball rounding bound).
"""

from __future__ import annotations

import math
from collections import defaultdict

import pytest

from tests.conftest import SF_SMOKE


# --- r13 ADVICE: promote_staged(link_files=True) severs the staging
# lifetime coupling -----------------------------------------------------


def test_promote_staged_link_files_survives_staging_drop(spark, tmp_path):
    import os
    import shutil

    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        commit_snapshot,
        promote_staged,
        read_snapshot,
    )

    main = str(tmp_path / "main")
    stage = str(tmp_path / "stage")
    commit_snapshot(spark.range(0, 5), main)
    commit_snapshot(spark.range(5, 9), stage)
    info = promote_staged(stage, main, txn_id="t1", link_files=True)
    assert info["version"] == 2 and info["files_referenced"] > 0
    # the promoted files were rebased INTO the table location
    promoted = [
        f
        for f in os.listdir(os.path.join(main, "data"))
        if f.startswith("promoted-")
    ]
    assert len(promoted) == info["files_referenced"]
    # dropping the staging table must not break the main table
    shutil.rmtree(stage)
    assert sorted(r.id for r in read_snapshot(spark, main).collect()) == list(
        range(9)
    )


def test_promote_staged_default_documents_coupling(spark, tmp_path):
    """Default (metadata-only) promote references ../stage paths — the
    documented coupling: staged files must outlive the promote."""
    import os

    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        _load_manifest,
        commit_snapshot,
        promote_staged,
    )

    main = str(tmp_path / "main")
    stage = str(tmp_path / "stage")
    commit_snapshot(spark.range(0, 5), main)
    commit_snapshot(spark.range(5, 9), stage)
    promote_staged(stage, main)
    man = _load_manifest(main, 2)
    outside = [f for f in man["files"] if f.startswith("..")]
    assert outside, "default promote should reference staged paths"
    assert "link_files" in promote_staged.__doc__
    assert os.path.isdir(os.path.join(stage, "data"))


def _events(spark):
    from etl_gcp_function_tmabrasil_spark.catalog import load_table

    return load_table(spark, SF_SMOKE, "events").collect()


# --- stats_sequential_msprt: recompute from the mSPRT definition ------------


def test_msprt_matches_python_definition(spark):
    from etl_gcp_function_tmabrasil_spark.queries.analytics import (
        MSPRT_ALPHA,
        TAU2_MSPRT,
        stats_sequential_msprt,
    )

    by = defaultdict(lambda: defaultdict(lambda: [0, 0, 0.0, 0.0, 0.0]))
    for e in _events(spark):
        d = e.ts.strftime("%Y-%m-%d")
        slot = by[e.event_type][d]
        if e.user_id % 2 == 0:
            slot[0] += 1
            slot[2] += e.value
        else:
            slot[1] += 1
            slot[3] += e.value
        slot[4] += e.value * e.value
    got = {
        (r.event_type, r.d): r
        for r in stats_sequential_msprt(spark, SF_SMOKE).collect()
    }
    for et, days in by.items():
        na = nb = 0
        sa = sb = ss = 0.0
        run_max = None
        for d in sorted(days):
            dn_a, dn_b, ds_a, ds_b, dss = days[d]
            na, nb = na + dn_a, nb + dn_b
            sa, sb, ss = sa + ds_a, sb + ds_b, ss + dss
            r = got[(et, d)]
            assert (r.n_a, r.n_b) == (na, nb)
            ma = sa / na if na else None
            mb = sb / nb if nb else None
            if na and nb:
                assert r.delta == pytest.approx(ma - mb, abs=2e-4)
            ok = na > 1 and nb > 1
            if ok:
                var = (ss - na * ma * ma - nb * mb * mb) / (na + nb - 2)
                ok = var > 0
            if ok:
                vn = var * (1 / na + 1 / nb)
                log_lam = 0.5 * math.log(vn / (vn + TAU2_MSPRT)) + (
                    (ma - mb) ** 2
                    * TAU2_MSPRT
                    / (2 * vn * (vn + TAU2_MSPRT))
                )
                assert r.log_lambda == pytest.approx(log_lam, abs=2e-4)
                run_max = (
                    log_lam if run_max is None else max(run_max, log_lam)
                )
            p = min(1.0, math.exp(-run_max)) if run_max is not None else 1.0
            assert r.p_always_valid == pytest.approx(p, abs=2e-4)
            assert r.reject == (r.p_always_valid <= MSPRT_ALPHA)
    # the arms are an A/A split: always-valid means NO rejection, and
    # p must be monotone non-increasing within each event_type
    rows = stats_sequential_msprt(spark, SF_SMOKE).collect()
    assert not any(r.reject for r in rows)
    last = {}
    for r in rows:  # already ordered by (event_type, d)
        if r.event_type in last:
            assert r.p_always_valid <= last[r.event_type] + 1e-12
        last[r.event_type] = r.p_always_valid


# --- model_calibration_brier: Murphy identity + per-bin recompute -----------


def test_calibration_brier_murphy_identity(spark):
    from etl_gcp_function_tmabrasil_spark.queries.analytics import (
        CALIB_BINS,
        model_calibration_brier,
    )

    units = defaultdict(lambda: [0, 0])
    for e in _events(spark):
        slot = units[(e.user_id, e.ts.strftime("%Y-%m-%d"))]
        slot[0] += 1
        slot[1] = max(slot[1], 1 if e.event_type == "purchase" else 0)
    per_bin = defaultdict(lambda: [0, 0])
    brier_num = 0.0
    for n, o in units.values():
        b = min(n, CALIB_BINS)
        per_bin[b][0] += 1
        per_bin[b][1] += o
        brier_num += round((b * 0.1 + 0.05 - o) ** 2, 6)
    N = sum(v[0] for v in per_bin.values())
    SO = sum(v[1] for v in per_bin.values())
    obar = SO / N
    rel = sum(
        nk * (b * 0.1 + 0.05 - so / nk) ** 2
        for b, (nk, so) in per_bin.items()
    ) / N
    res = sum(
        nk * (so / nk - obar) ** 2 for b, (nk, so) in per_bin.items()
    ) / N
    unc = obar * (1 - obar)
    rows = model_calibration_brier(spark, SF_SMOKE).collect()
    assert {r.bin for r in rows} == set(per_bin)
    for r in rows:
        nk, so = per_bin[r.bin]
        assert r.n_units == nk
        assert r.o_rate == pytest.approx(so / nk, abs=1e-6)
        assert r.p_hat == pytest.approx(r.bin * 0.1 + 0.05, abs=1e-9)
        assert r.brier == pytest.approx(brier_num / N, abs=2e-6)
        assert r.reliability == pytest.approx(rel, abs=2e-6)
        assert r.resolution == pytest.approx(res, abs=2e-6)
        assert r.uncertainty == pytest.approx(unc, abs=2e-6)
        # Murphy 1973: with a discrete forecast the decomposition is
        # an identity, not an approximation
        assert r.brier == pytest.approx(
            r.reliability - r.resolution + r.uncertainty, abs=5e-6
        )


# --- ann_silhouette_cells: brute-force centroid silhouette -------------------


def test_silhouette_matches_bruteforce(spark):
    import numpy as np

    from etl_gcp_function_tmabrasil_spark.catalog import load_table
    from etl_gcp_function_tmabrasil_spark.queries.similarity import (
        N_CELLS,
        ann_silhouette_cells,
    )

    rows = load_table(spark, SF_SMOKE, "embeddings").collect()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}
    cents = {cid: vecs[cid] for cid in range(N_CELLS)}
    agg = defaultdict(lambda: [0, 0.0, 0.0, 0.0])
    for vid, v in vecs.items():
        d = {
            cid: 1.0
            - round(
                float(v @ c / (np.linalg.norm(v) * np.linalg.norm(c))), 6
            )
            for cid, c in cents.items()
        }
        # nearest two, ties on lower cell_id
        order = sorted(d, key=lambda cid: (d[cid], cid))
        own, other = order[0], order[1]
        a, b = d[own], d[other]
        s = (b - a) / max(a, b) if max(a, b) > 0 else 0.0
        slot = agg[own]
        slot[0] += 1
        slot[1] += round(a, 6)
        slot[2] += round(b, 6)
        slot[3] += round(s, 6)
    got = {r.cell_id: r for r in ann_silhouette_cells(spark, SF_SMOKE).collect()}
    assert set(got) == set(agg)
    for cid, (n, sa, sb, ssil) in agg.items():
        r = got[cid]
        assert r.n_vectors == n
        assert r.mean_a == pytest.approx(sa / n, abs=2e-6)
        assert r.mean_b == pytest.approx(sb / n, abs=2e-6)
        assert r.mean_silhouette == pytest.approx(ssil / n, abs=2e-6)


# --- fsck: fault attribution on a synthetic table ----------------------------


def test_fsck_attributes_each_fault(spark, tmp_path):
    import glob
    import os
    import shutil

    import pyarrow.parquet as pq

    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        commit_snapshot,
        fsck_snapshot,
    )

    t = str(tmp_path / "tbl")
    for i in range(4):
        commit_snapshot(
            spark.range(i * 10, i * 10 + 10).coalesce(1), t, integrity=True
        )
    pre = fsck_snapshot(spark, t)
    assert [r["status"] for r in pre] == ["ok"] * 4
    assert all(r["rows_recorded"] == r["rows_actual"] == 10 for r in pre)
    files = sorted(glob.glob(os.path.join(t, "data", "commit-*", "*.parquet")))
    # content corruption detectable only by the recorded row hash
    tb = pq.read_table(files[0])
    pq.write_table(tb.slice(0, 7), files[0])
    crc = os.path.join(
        os.path.dirname(files[0]), "." + os.path.basename(files[0]) + ".crc"
    )
    if os.path.exists(crc):
        os.remove(crc)
    # unreadable corruption (stale hadoop .crc sidecar)
    tb1 = pq.read_table(files[1])
    pq.write_table(tb1.slice(0, 3), files[1])
    os.remove(files[2])
    shutil.copy(files[3], os.path.join(t, "data", "orphan.parquet"))
    rep = {r["file"]: r for r in fsck_snapshot(spark, t)}
    rel = [os.path.relpath(f, t) for f in files]
    assert rep[rel[0]]["status"] == "corrupt"
    assert rep[rel[0]]["rows_actual"] == 7 and not rep[rel[0]]["hash_ok"]
    assert rep[rel[1]]["status"] == "corrupt"
    assert rep[rel[2]]["status"] == "missing"
    assert rep[rel[2]]["rows_recorded"] == 10
    assert rep[rel[3]]["status"] == "ok"
    assert rep["data/orphan.parquet"]["status"] == "orphan"
    # integrity-less commits degrade to existence-only
    t2 = str(tmp_path / "tbl2")
    commit_snapshot(spark.range(5), t2)
    assert {r["status"] for r in fsck_snapshot(spark, t2)} == {"exists"}


def test_fsck_full_coverage_across_rewrites(spark, tmp_path):
    """On an integrity-tracked table, every verb keeps an integrity
    entry for every file it references — the rewriting verbs (merge,
    delete, replace, optimize) and an append without the flag record
    fresh entries for the files they write; promote, restore and clone
    carry the entries of the files they re-reference. fsck reports
    `ok`, never `exists`, across churn, even after a vacuum leaves only
    the newest manifest to vouch for the files."""
    from pyspark.sql import functions as F

    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        clone_snapshot,
        commit_snapshot,
        delete_where,
        fsck_snapshot,
        merge_snapshot,
        optimize_layout,
        promote_staged,
        read_snapshot,
        replace_where,
        restore_snapshot,
        vacuum_snapshots,
    )

    t = str(tmp_path / "tracked")
    base = spark.range(0, 40).select("id", (F.col("id") * 2).alias("v"))
    for m in range(2):
        commit_snapshot(
            base.filter(F.col("id") % 2 == m).coalesce(1), t,
            integrity=True,
        )

    def statuses(table=t):
        vacuum_snapshots(table, retain_last=1)
        return {r["status"] for r in fsck_snapshot(spark, table)}

    def rows(*pairs):
        return spark.createDataFrame(list(pairs), "id long, v long")

    merge_snapshot(spark, t, rows((1, 99), (100, 1)), "id")
    assert statuses() == {"ok"}, "post-merge files must keep integrity"
    delete_where(spark, t, "id >= 30 AND id < 35")
    assert statuses() == {"ok"}
    replace_where(spark, rows((20, -1)), t, "id = 20")
    assert statuses() == {"ok"}
    optimize_layout(spark, t, "id", 2)
    assert statuses() == {"ok"}
    # a tracked table stays tracked: the flag only STARTS tracking
    commit_snapshot(rows((200, 400)), t)
    assert statuses() == {"ok"}
    stage = str(tmp_path / "stage")
    commit_snapshot(rows((300, 600)), stage, integrity=True)
    promoted = promote_staged(stage, t)["version"]
    assert statuses() == {"ok"}
    delete_where(spark, t, "id >= 200")
    restore_snapshot(t, promoted)
    assert statuses() == {"ok"}
    clone = str(tmp_path / "clone")
    clone_snapshot(t, clone)
    assert statuses(clone) == {"ok"}
    # content still correct after the churn
    want = {i: i * 2 for i in range(40) if not (30 <= i < 35)}
    want.update({1: 99, 100: 1, 20: -1, 200: 400, 300: 600})
    for table in (t, clone):
        got = {r.id: r.v for r in read_snapshot(spark, table).collect()}
        assert got == want


# --- stats_group_sequential_peto: z trajectory + boundary recompute ----------


def test_peto_matches_python_definition(spark):
    from etl_gcp_function_tmabrasil_spark.queries.analytics import (
        PETO_FINAL_Z,
        PETO_INTERIM_Z,
        stats_group_sequential_peto,
    )

    by = defaultdict(lambda: defaultdict(lambda: [0, 0, 0.0, 0.0, 0.0]))
    for e in _events(spark):
        d = e.ts.strftime("%Y-%m-%d")
        slot = by[e.event_type][d]
        if e.user_id % 2 == 0:
            slot[0] += 1
            slot[2] += e.value
        else:
            slot[1] += 1
            slot[3] += e.value
        slot[4] += e.value * e.value
    got = {
        (r.event_type, r.d): r
        for r in stats_group_sequential_peto(spark, SF_SMOKE).collect()
    }
    for et, days in by.items():
        na = nb = 0
        sa = sb = ss = 0.0
        ordered = sorted(days)
        for k, d in enumerate(ordered, start=1):
            dn_a, dn_b, ds_a, ds_b, dss = days[d]
            na, nb = na + dn_a, nb + dn_b
            sa, sb, ss = sa + ds_a, sb + ds_b, ss + dss
            r = got[(et, d)]
            assert r.look == k and (r.n_a, r.n_b) == (na, nb)
            bound = PETO_INTERIM_Z if k < len(ordered) else PETO_FINAL_Z
            assert r.boundary == pytest.approx(bound, abs=1e-6)
            if na > 1 and nb > 1:
                ma, mb = sa / na, sb / nb
                var = (ss - na * ma * ma - nb * mb * mb) / (na + nb - 2)
                if var > 0:
                    z = (ma - mb) / math.sqrt(var * (1 / na + 1 / nb))
                    assert r.z == pytest.approx(z, abs=2e-4)
                    assert r.crossed == (abs(r.z) >= r.boundary)
                    continue
            assert r.z is None and r.crossed is False


# --- model_eval_auc_binned: exact pairwise AUC --------------------------------


def test_auc_binned_equals_pairwise(spark):
    from etl_gcp_function_tmabrasil_spark.queries.analytics import (
        CALIB_BINS,
        model_eval_auc_binned,
    )

    units = defaultdict(lambda: [0, 0])
    for e in _events(spark):
        slot = units[(e.user_id, e.ts.strftime("%Y-%m-%d"))]
        slot[0] += 1
        slot[1] = max(slot[1], 1 if e.event_type == "purchase" else 0)
    scores = [(min(n, CALIB_BINS), o) for n, o in units.values()]
    pos = [s for s, o in scores if o]
    neg = [s for s, o in scores if not o]
    # literal Mann-Whitney with midrank ties: O(P*N), fine at sf0.001
    num = sum(
        1.0 if p > q else (0.5 if p == q else 0.0) for p in pos for q in neg
    )
    auc = num / (len(pos) * len(neg))
    row = model_eval_auc_binned(spark, SF_SMOKE).collect()[0]
    assert row.n_units == len(scores)
    assert row.n_pos == len(pos) and row.n_neg == len(neg)
    assert row.auc == pytest.approx(auc, abs=2e-6)
    assert row.gini == pytest.approx(2 * auc - 1, abs=4e-6)
    assert 0.5 < row.auc <= 1.0, "count forecaster must discriminate"


# --- model_calibration_isotonic: sequential PAV sweep == minimax form --------


def test_isotonic_minimax_equals_pav_sweep(spark):
    from etl_gcp_function_tmabrasil_spark.queries.analytics import (
        CALIB_BINS,
        model_calibration_isotonic,
    )

    units = defaultdict(lambda: [0, 0])
    for e in _events(spark):
        slot = units[(e.user_id, e.ts.strftime("%Y-%m-%d"))]
        slot[0] += 1
        slot[1] = max(slot[1], 1 if e.event_type == "purchase" else 0)
    per_bin = defaultdict(lambda: [0, 0])
    for n, o in units.values():
        b = min(n, CALIB_BINS)
        per_bin[b][0] += 1
        per_bin[b][1] += o
    # the textbook sequential PAV sweep (Ayer et al. 1955)
    blocks = []  # [sum_o, sum_n, bins]
    for b in sorted(per_bin):
        nk, so = per_bin[b]
        blocks.append([so, nk, [b]])
        while len(blocks) > 1 and (
            blocks[-2][0] * blocks[-1][1] >= blocks[-1][0] * blocks[-2][1]
        ):
            so2, n2, bs2 = blocks.pop()
            blocks[-1][0] += so2
            blocks[-1][1] += n2
            blocks[-1][2].extend(bs2)
    want = {}
    for so, nk, bs in blocks:
        for b in bs:
            want[b] = so / nk
    got = {
        r.bin: r for r in model_calibration_isotonic(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(want)
    prev = -1.0
    for b in sorted(want):
        assert got[b].p_isotonic == pytest.approx(want[b], abs=2e-6)
        assert got[b].p_isotonic >= prev - 1e-9, "isotonic fit must be monotone"
        prev = got[b].p_isotonic
        assert got[b].n_units == per_bin[b][0]


# --- merge_snapshot: copy-on-write keyed upsert -------------------------------


def test_merge_snapshot_copy_on_write(spark, tmp_path):
    from pyspark.sql import functions as F

    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        _load_manifest,
        commit_snapshot,
        merge_snapshot,
        read_snapshot,
    )

    t = str(tmp_path / "tbl")
    base = spark.range(0, 40).select(
        "id", (F.col("id") * 10).alias("v")
    )
    for m in range(4):
        commit_snapshot(base.filter(F.col("id") % 4 == m).coalesce(1), t)
    files0 = list(_load_manifest(t, 4)["files"])
    # updates confined to the id%4==1 file; inserts are new keys
    source = spark.createDataFrame(
        [(1, 999), (5, 999), (100, 1), (101, 2)], "id long, v long"
    )
    info = merge_snapshot(spark, t, source, "id", txn_id="m1")
    assert info["rows_updated"] == 2 and info["rows_inserted"] == 2
    assert info["files_rewritten"] == 1 and info["files_kept"] == 3
    man = _load_manifest(t, info["version"])
    assert len([f for f in files0 if f in set(man["files"])]) == 3
    got = {r.id: r.v for r in read_snapshot(spark, t).collect()}
    want = {i: i * 10 for i in range(40)}
    want.update({1: 999, 5: 999, 100: 1, 101: 2})
    assert got == want
    # pre-merge version still readable (time travel)
    assert read_snapshot(spark, t, version=4).count() == 40
    # idempotent replay
    again = merge_snapshot(spark, t, source, "id", txn_id="m1")
    assert again["version"] == info["version"]
    # duplicate source keys raise the multiple-match error
    dup = source.unionByName(
        spark.createDataFrame([(1, 7)], "id long, v long")
    )
    with pytest.raises(ValueError, match="duplicate"):
        merge_snapshot(spark, t, dup, "id")


def test_merge_snapshot_duplicate_key_target(spark, tmp_path):
    """Delta UPDATE SET * row semantics on a duplicate-key TARGET:
    every matched stored row is updated (replicated source row), row
    count is preserved, and the updated/inserted accounting is
    key-correct (rows_inserted counts unmatched source KEYS — never
    negative)."""
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        commit_snapshot,
        merge_snapshot,
        read_snapshot,
    )

    t = str(tmp_path / "dup_tbl")
    # key 1 stored THREE times (twice in one file, once in another);
    # key 2 stored once; key 3 untouched
    commit_snapshot(
        spark.createDataFrame(
            [(1, 10), (1, 11), (2, 20)], "id long, v long"
        ).coalesce(1),
        t,
    )
    commit_snapshot(
        spark.createDataFrame(
            [(1, 12), (3, 30)], "id long, v long"
        ).coalesce(1),
        t,
    )
    source = spark.createDataFrame(
        [(1, 999), (2, 888), (50, 500)], "id long, v long"
    )
    info = merge_snapshot(spark, t, source, "id")
    # 4 matched stored rows (3×key1 + 1×key2); 1 unmatched source key
    assert info["rows_updated"] == 4
    assert info["rows_inserted"] == 1
    got = sorted(
        (r.id, r.v) for r in read_snapshot(spark, t).collect()
    )
    # row count preserved: 5 stored + 1 insert = 6
    assert got == [
        (1, 999), (1, 999), (1, 999), (2, 888), (3, 30), (50, 500)
    ]


# --- ab_test_srm_check: chi-square recompute ----------------------------------


def test_srm_check_matches_python(spark):
    from etl_gcp_function_tmabrasil_spark.queries.analytics import (
        SRM_CHI2_CRIT,
        ab_test_srm_check,
    )

    arms = defaultdict(lambda: [set(), set()])
    for e in _events(spark):
        arms[e.event_type][0 if e.user_id % 2 == 0 else 1].add(e.user_id)
    got = {r.event_type: r for r in ab_test_srm_check(spark, SF_SMOKE).collect()}
    assert set(got) == set(arms)
    for et, (a, b) in arms.items():
        r = got[et]
        assert (r.n_users_a, r.n_users_b) == (len(a), len(b))
        chi2 = (len(a) - len(b)) ** 2 / (len(a) + len(b))
        assert r.chi2 == pytest.approx(chi2, abs=1e-6)
        assert r.share_a == pytest.approx(len(a) / (len(a) + len(b)), abs=1e-6)
        assert r.srm_detected == (round(chi2, 6) > SRM_CHI2_CRIT)


# --- embedding_matryoshka_fidelity: numpy brute force -------------------------


def test_matryoshka_fidelity_matches_numpy(spark):
    import numpy as np

    from etl_gcp_function_tmabrasil_spark.catalog import load_table
    from etl_gcp_function_tmabrasil_spark.queries.similarity import (
        MRL_DIMS,
        N_QUERIES,
        embedding_matryoshka_fidelity,
    )

    rows = load_table(spark, SF_SMOKE, "embeddings").collect()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}

    def cos(a, b):
        return round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 6)

    agree = {d: 0 for d in MRL_DIMS}
    errs = {d: [] for d in MRL_DIMS}
    for q in range(N_QUERIES):
        top = {}
        per_d = {}
        for d in MRL_DIMS:
            scored = [
                (cos(vecs[q][:d], v[:d]), -vid, vid)
                for vid, v in vecs.items()
                if vid != q
            ]
            top[d] = max(scored)[2]
            per_d[d] = {vid: c for c, _, vid in scored}
        for d in MRL_DIMS:
            if top[d] == top[MRL_DIMS[-1]]:
                agree[d] += 1
            errs[d].extend(
                round(abs(per_d[d][vid] - per_d[MRL_DIMS[-1]][vid]), 6)
                for vid in per_d[d]
            )
    got = {
        r.dim: r
        for r in embedding_matryoshka_fidelity(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(MRL_DIMS)
    for d in MRL_DIMS:
        r = got[d]
        assert r.n_queries == N_QUERIES
        assert r.top1_agreement == pytest.approx(
            agree[d] / N_QUERIES, abs=2e-6
        )
        assert r.mean_abs_cos_err == pytest.approx(
            sum(errs[d]) / len(errs[d]), abs=2e-6
        )
    # full width must agree with itself exactly, with zero error
    assert got[MRL_DIMS[-1]].top1_agreement == 1.0
    assert got[MRL_DIMS[-1]].mean_abs_cos_err == 0.0


# --- attribution_position_based: literal path recompute -----------------------


def test_position_attribution_matches_python(spark):
    from etl_gcp_function_tmabrasil_spark.queries.analytics import (
        ATTR_WINDOW_DAYS,
        attribution_position_based,
    )

    evs = sorted(_events(spark), key=lambda e: (e.ts, e.event_id))
    by_user = defaultdict(list)
    for e in evs:
        by_user[e.user_id].append(e)
    credit = defaultdict(float)
    for rows in by_user.values():
        for c in rows:
            if c.event_type != "purchase":
                continue
            path = [
                t
                for t in rows
                if t.event_type in ("click", "view")
                and (
                    (t.ts, t.event_id) < (c.ts, c.event_id)
                )
                and (c.ts.date() - t.ts.date()).days <= ATTR_WINDOW_DAYS
            ]
            n = len(path)
            if n == 0:
                credit["direct"] += 1.0
                continue
            for i, t in enumerate(path, start=1):
                if n == 1:
                    w = 1.0
                elif n == 2:
                    w = 0.5
                elif i in (1, n):
                    w = 0.4
                else:
                    w = 0.2 / (n - 2)
                credit[t.event_type] += round(w, 6)
    total = sum(credit.values())
    got = {
        r.channel: r
        for r in attribution_position_based(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(credit)
    for ch, c in credit.items():
        assert got[ch].credit == pytest.approx(c, abs=5e-6)
        assert got[ch].share == pytest.approx(c / total, abs=5e-6)
    # conservation: total credit equals the number of conversions
    n_conv = sum(1 for e in evs if e.event_type == "purchase")
    assert sum(r.credit for r in got.values()) == pytest.approx(
        n_conv, abs=1e-3
    )


# --- stream_merge_snapshot_upsert: final state == global per-user argmax -----


def test_stream_merge_upsert_equals_global_argmax(spark, tmp_path):
    from etl_gcp_function_tmabrasil_spark.queries.streaming_gate import (
        stream_merge_snapshot_upsert,
    )

    latest = {}
    for e in _events(spark):
        k = (e.ts, e.event_id)
        if e.user_id not in latest or k > latest[e.user_id][0]:
            latest[e.user_id] = (k, e.event_type, round(e.value, 4))
    want = defaultdict(lambda: [0, 0.0])
    for (_, et, v) in latest.values():
        want[et][0] += 1
        want[et][1] += v
    got = {
        r.event_type: r
        for r in stream_merge_snapshot_upsert(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(want)
    for et, (n, sv) in want.items():
        assert got[et].n_users == n
        assert got[et].sum_value == pytest.approx(sv, abs=1e-6)

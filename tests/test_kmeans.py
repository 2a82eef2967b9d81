"""k-means trainer invariants: bounded cell count, non-increasing
inertia across Lloyd iterations, run-to-run determinism, and agreement
of the final assignment with a numpy re-assignment against the same
centroids. (Cross-engine exactness is separately pinned by the
kmeans_ivf_codebook DuckDB oracle — the trainer rounds argmin keys and
computes decimal-exact means precisely so that oracle exists.)
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import functions as F

from etl_gcp_function_tmabrasil_spark.catalog import load_table
from etl_gcp_function_tmabrasil_spark.operators.kmeans import kmeans_fit
from etl_gcp_function_tmabrasil_spark.functions.vector import as_double_array


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array(F.col("embedding")).alias("e")
    )


def test_kmeans_inertia_monotone_and_deterministic(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    inertias = []
    for iters in (1, 2, 3):
        _, assigned = kmeans_fit(emb, k=8, iters=iters)
        inertias.append(assigned.agg(F.sum("sqdist")).collect()[0][0])
    assert inertias[0] >= inertias[1] >= inertias[2], inertias
    # determinism: same input, same result
    _, a1 = kmeans_fit(emb, k=8, iters=2)
    _, a2 = kmeans_fit(emb, k=8, iters=2)
    m1 = {r.vec_id: r.cell_id for r in a1.collect()}
    m2 = {r.vec_id: r.cell_id for r in a2.collect()}
    assert m1 == m2


def test_kmeans_assignment_matches_numpy(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    cent, assigned = kmeans_fit(emb, k=8, iters=2)
    C = {r.cell_id: np.array(r.ce) for r in cent.collect()}
    # re-assign every vector against the trained centroids in numpy;
    # the operator's *final* assignment is one iteration behind the
    # final centroids (Lloyd), so recompute assignment for comparison
    E = {r.vec_id: np.array(r.e) for r in emb.collect()}
    cells = sorted(C)
    got = {
        r.vec_id: r.cell_id
        for r in __import__(
            "etl_gcp_function_tmabrasil_spark.operators.kmeans",
            fromlist=["_assign"],
        )._assign(emb, cent).collect()
    }
    for v, e in E.items():
        dists = [(float(((e - C[c]) ** 2).sum()), c) for c in cells]
        best = min(dists)[1]
        # allow exact ties to resolve either way
        best_d = min(d for d, _ in dists)
        # _assign rounds distances to SQDIST_DP (6 dp) before the
        # argmin, so anything within 1e-6 of the winner is a tie at the
        # operator's resolution
        tied = {c for d, c in dists if abs(d - best_d) < 1e-6}
        assert got[v] in tied, (v, got[v], best)
    cent_cells = {r.cell_id for r in cent.collect()}
    # empty cells are dropped by _update, so the codebook holds AT MOST
    # k cells (module docstring); on this corpus no cell empties — pin
    # both the bound and the observed-full codebook
    assert len(cent_cells) == 8
    assert set(got.values()) <= cent_cells


def test_kmeans_rejects_zero_iters(spark, sf_dir):
    import pytest

    with pytest.raises(ValueError, match="iters >= 1"):
        kmeans_fit(_emb(spark, sf_dir), k=8, iters=0)


def test_semdedup_drops_planted_duplicates_and_keeps_cell_minima(spark, sf_dir):
    """SemDeDup behavioral pins (queries/similarity.semdedup_drop_set):
    (1) a planted exact copy of an existing vector lands in the same
    cell (identical vector -> identical rounded argmin) and MUST be
    dropped at cosine 1.0; (2) the lowest vec_id in every cell can
    never be dropped (it has no lower-id mate); (3) every reported row
    clears the threshold with at least one mate."""
    from etl_gcp_function_tmabrasil_spark.queries.similarity import (
        SEMDEDUP_COS_MIN,
        semdedup_drop_set,
    )

    emb = _emb(spark, sf_dir)
    originals = {r.vec_id: r.e for r in emb.orderBy("vec_id").limit(3).collect()}
    top = emb.agg(F.max("vec_id")).collect()[0][0]
    planted = spark.createDataFrame(
        [(int(top) + 1 + i, e) for i, e in enumerate(originals.values())],
        schema=emb.schema,
    )
    dropped = semdedup_drop_set(emb.unionByName(planted))
    rows = dropped.collect()
    got = {r.vec_id: r for r in rows}
    for i in range(len(originals)):
        pid = int(top) + 1 + i
        assert pid in got, f"planted copy {pid} not dropped"
        assert got[pid].max_cosine == 1.0, got[pid]
    # per-cell minima survive; thresholds hold for every reported row
    _, assigned = kmeans_fit(emb.unionByName(planted), k=8, iters=3)
    cell_min = {
        r.cell_id: r.lo
        for r in assigned.groupBy("cell_id").agg(F.min("vec_id").alias("lo")).collect()
    }
    for r in rows:
        assert r.vec_id != cell_min[r.cell_id], f"cell minimum dropped: {r}"
        assert r.max_cosine >= SEMDEDUP_COS_MIN and r.n_dup_mates >= 1, r


def test_kmeans_fit_share_key_memoizes_and_is_result_identical(spark):
    """The r16 trainer memo: same (share_key, k, iters) returns the
    SAME frames (one training per session); no key trains
    independently; and the shared result is bit-identical to an
    unshared training — sharing must be result-invisible."""
    from etl_gcp_function_tmabrasil_spark.operators import kmeans as km, reuse

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float((3 * i) % 5), float(i % 11)])
         for i in range(1, 61)],
        "vec_id long, e array<double>",
    )
    slots = [("kmeans_fit", key, 4, 2) for key in ("t", "u")]
    for slot in slots:
        reuse.release(spark, slot)
    c1, a1 = km.kmeans_fit(emb, k=4, iters=2, share_key="t")
    c2, a2 = km.kmeans_fit(emb, k=4, iters=2, share_key="t")
    assert c1 is c2 and a1 is a2  # memo hit: the identical objects
    c3, a3 = km.kmeans_fit(emb, k=4, iters=2)  # no key: fresh training
    assert c3 is not c1
    assert sorted(map(tuple, a1.collect())) == sorted(map(tuple, a3.collect()))
    assert sorted(map(tuple, c1.collect())) == sorted(map(tuple, c3.collect()))
    # a different key never aliases
    c4, _ = km.kmeans_fit(emb, k=4, iters=2, share_key="u")
    assert c4 is not c1
    for slot in slots:
        reuse.release(spark, slot)

"""Distributed k-means over an embedding column — the codebook trainer
behind the IVF index (queries/similarity.ann_ivf_cosine uses its first-N
stand-in; this is the real training loop), expressed as the iterative
DataFrame pattern the engine uses for all fixed-point algorithms
(dedup_approx.dedup_components): per-iteration joins + aggregations,
`localCheckpoint` to cut lineage, no driver-side collect of data rows.

Per iteration:
1. assignment — all K centroids broadcast as one array row; per-row
   argmin of squared L2 distance via a row-local array_min (zero
   shuffle, no window sort, no aggregate);
2. update — posexplode vectors to (cell, dim, v), per-(cell, dim) mean
   (partial agg; DIM-bounded explode), reassemble each centroid with
   array_agg sorted by dim (64 elements per group — bounded).

Exactness (the PageRank trick, dedup_approx.pagerank_dedup_graph): the
argmin key is the squared distance ROUNDED to 6 dp with a cell_id
tiebreak, and each mean is computed as a DECIMAL(25,9) sum of 9
dp-rounded components divided by the member count, re-rounded to 9 dp.
Every iteration is therefore bit-identical across engines and
partitionings, which is what lets kmeans_ivf_codebook carry an exact
unrolled-CTE DuckDB oracle (queries/similarity.py).

Determinism: init = the K lowest-vec_id vectors; ties in argmin break
on the lower cell_id. A cell that captures no members in some
iteration produces no mean rows, so the codebook can SHRINK below k
(at most k cells, exactly k in practice on non-degenerate data —
pinned in tests/test_kmeans.py).

Sharing: callers that train on the same declared input pass one
``share_key`` and reuse one training per SparkSession (a slot in
operators/reuse.py; see kmeans_fit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from etl_gcp_function_tmabrasil_spark.operators.reuse import reuse

#: decimal places for the argmin distance key / the centroid components
SQDIST_DP = 6
MEAN_DP = 9

def _assign(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, e) × (cell_id, ce) → (vec_id, e, cell_id, sqdist).

    Zero-shuffle row-local argmin over the broadcast centroid array
    (operators/rowlocal_argmin — shared with ann_ivf_cosine; the
    rationale for NOT using min_by/groupBy lives there). sqdist is
    rounded to SQDIST_DP before the argmin so the winning cell is
    rounding-stable across engines; ties break on the lower cell_id.
    """
    from etl_gcp_function_tmabrasil_spark.operators.rowlocal_argmin import (
        argmin_cell,
        centroid_array,
    )

    sqdist = (
        "round(aggregate(zip_with(e, c.ce, (x, y) -> (x - y) * (x - y)),"
        f" cast(0.0 as double), (s, v) -> s + v), {SQDIST_DP})"
    )
    # two-step select: the struct is materialized once, then field-
    # projected — collapsing would duplicate the interpreted HOF argmin
    return (
        emb.crossJoin(centroid_array(cent, "cell_id", "ce"))
        .select("vec_id", "e", argmin_cell(sqdist).alias("best"))
        .select(
            "vec_id",
            "e",
            F.col("best.cell_id").alias("cell_id"),
            F.col("best.metric").alias("sqdist"),
        )
    )


def _update(assigned: DataFrame) -> DataFrame:
    """New centroids: per-(cell, dim) decimal-exact means reassembled
    into arrays. Components are rounded to MEAN_DP and summed as
    DECIMAL(25,MEAN_DP) — no float summation order anywhere — then the
    mean is re-rounded to MEAN_DP."""
    dims = assigned.select(
        "cell_id", F.posexplode("e").alias("dim", "v")
    )
    means = dims.groupBy("cell_id", "dim").agg(
        F.round(
            F.sum(F.round("v", MEAN_DP).cast(f"decimal(25,{MEAN_DP})")).cast("double")
            / F.count(F.lit(1)),
            MEAN_DP,
        ).alias("m")
    )
    return (
        means.groupBy("cell_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))),
                lambda s: s["m"],
            ).alias("ce")
        )
    )


def kmeans_fit(
    emb: DataFrame,
    k: int = 8,
    iters: int = 3,
    share_key: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Train k-means on (vec_id, e: array<double>).

    Returns (centroids(cell_id, ce), assignment(vec_id, cell_id,
    sqdist)) after `iters` Lloyd iterations from the deterministic
    k-lowest-vec_id init; the returned assignment is the one the FINAL
    update consumed (one step behind the returned centroids, standard
    Lloyd). Each iteration is one broadcast join + two bounded
    aggregations; `localCheckpoint` keeps plans flat so the loop scales
    in iteration count.

    ``share_key``: opt into the per-session trainer memo (r16, VERDICT
    item 6) — callers whose DECLARED semantics train on the same input
    with the same k/iters (the codebook/SemDeDup pair, the PQ
    sub-codebooks of the adc/rerank pairs) pass the same key and reuse
    one training: a reuse slot keyed ``("kmeans_fit", share_key, k,
    iters)`` with a constant stamp (operators/reuse.py). The trainer is
    deterministic (rounded argmin keys, decimal-exact means), so
    sharing is result-invisible; the shared centroid frame is persisted
    (it is consumed by several downstream subtrees per query). No key
    means a fully independent training.
    """
    if iters < 1:
        raise ValueError(f"kmeans_fit requires iters >= 1, got {iters}")
    if share_key is not None:

        def train() -> tuple[DataFrame, DataFrame]:
            cent, assigned = kmeans_fit(emb, k, iters)
            return cent.persist(), assigned

        return reuse(emb.sparkSession, ("kmeans_fit", share_key, k, iters), None, train)
    # the init window is global but runs over exactly k rows (the
    # TakeOrdered limit executes first) — not a corpus-sized sort
    cent = (
        emb.orderBy("vec_id")
        .limit(k)
        .select(
            F.row_number().over(W.orderBy("vec_id")).alias("cell_id"),
            F.col("e").alias("ce"),
        )
    )
    assigned = None
    for _ in range(iters):
        assigned = _assign(emb, cent).localCheckpoint(eager=False)
        cent = _update(assigned)
    return cent, assigned.select("vec_id", "cell_id", "sqdist")


def kmeans_assign(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """Encode (vec_id, e) against a TRAINED codebook: the row-local
    broadcast argmin of :func:`kmeans_fit`'s loop, exposed for callers
    that need the assignment UNDER THE FINAL centroids (the returned
    ``assigned`` is one Lloyd step behind, standard for the trainer) —
    the product-quantization encoder is the canonical user. Same
    exactness contract: rounded argmin key, lower-cell_id tiebreak,
    zero shuffle."""
    return _assign(emb, cent).select("vec_id", "cell_id", "sqdist")

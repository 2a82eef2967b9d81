"""ANN quality invariants (SURVEY.md §5.2: "self-checking invariants,
e.g., LSH recall vs brute-force"): the approximate paths must agree with
the exact brute-force top-k on a meaningful fraction of queries.
"""

from __future__ import annotations

import functools
from collections import defaultdict

import numpy as np
import pytest

from etl_gcp_function_tmabrasil_spark.catalog import load_table
from etl_gcp_function_tmabrasil_spark.queries.similarity import (
    TOP_K,
    ann_ivf_cosine,
    knn_bruteforce_cosine,
)


def _topk_sets(df):
    out: dict[int, set[int]] = {}
    for r in df.collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def test_cosine_dedup_banding_finds_planted_pairs(spark):
    """The driver corpus has no cosine-0.95 pairs (max ~0.51), so the
    banded-LSH dedup is exercised on planted near-dups: perturbed copies
    at cosine ≈ 0.999 must all surface through the band join, and
    nothing below threshold may appear (exact verify ⇒ precision 1)."""
    import numpy as np
    from pyspark.sql import functions as F

    from etl_gcp_function_tmabrasil_spark.queries.similarity import (
        DIM,
        cosine_dedup_candidates,
    )

    rng = np.random.RandomState(7)
    base = rng.randn(40, DIM)
    rows = [(i, [float(v) for v in base[i]]) for i in range(40)]
    planted = set()
    for k in range(5):  # 5 near-dup copies of vectors 0..4
        dup = base[k] + 0.02 * rng.randn(DIM)
        rows.append((100 + k, [float(v) for v in dup]))
        planted.add((k, 100 + k))
    df = spark.createDataFrame(rows, "vec_id: long, e: array<double>")
    from etl_gcp_function_tmabrasil_spark.functions.vector import l2norm

    emb = df.select("vec_id", "e", l2norm(F.col("e")).alias("nrm"))
    got = {(r.vec1, r.vec2) for r in cosine_dedup_candidates(emb).collect()}
    assert planted <= got, f"planted near-dups missed: {planted - got}"
    extras = got - planted
    assert not extras, f"sub-threshold pairs leaked (verify broken): {extras}"


def test_cosine_dedup_plan_is_band_equi_join(spark, sf_dir):
    from etl_gcp_function_tmabrasil_spark.queries.similarity import (
        embedding_cosine_dedup,
    )

    plan = (
        embedding_cosine_dedup(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, (
        "dedup degenerated to an all-pairs join"
    )
    assert "band_val" in plan, "candidate join not keyed on LSH band"


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    exact = _topk_sets(knn_bruteforce_cosine(spark, sf_dir))
    approx = _topk_sets(ann_ivf_cosine(spark, sf_dir))
    assert set(approx) == set(exact), "every query must be answered"
    hits = sum(len(exact[q] & approx[q]) for q in exact)
    total = sum(len(exact[q]) for q in exact)
    recall = hits / total
    # N_PROBE/N_CELLS = 1/4 of cells scanned; on random-ish vectors the
    # nearest neighbors concentrate in the nearest cells, so recall must
    # beat the blind-scan fraction by a wide margin.
    assert recall >= 0.5, f"IVF recall {recall:.2f} below floor"
    for q, members in approx.items():
        assert len(members) == TOP_K


def test_pq_planted_exact_copy_ranks_first(spark):
    """The ADC argmin property, exercised end-to-end: an exact copy of
    a query vector shares the query's (argmin) codes in every
    subspace, so its ADC distance is the minimum ANY vector can score
    against that query — the copy must be the rank-1 neighbor."""
    import numpy as np

    from etl_gcp_function_tmabrasil_spark.queries.similarity import (
        PQ_M,
        PQ_QUERIES,
        PQ_SUBDIM,
        pq_topk,
    )

    dim = PQ_M * PQ_SUBDIM
    rng = np.random.RandomState(11)
    base = rng.randn(60, dim)
    rows = [(i, [float(v) for v in base[i]]) for i in range(60)]
    # queries are the PQ_QUERIES lowest vec_ids (0, 1, 2); plant an
    # exact copy of each under a high id
    for k in range(PQ_QUERIES):
        rows.append((900 + k, [float(v) for v in base[k]]))
    emb = spark.createDataFrame(rows, "vec_id: long, e: array<double>")
    out = pq_topk(emb).collect()
    rank1 = {r.query_id: r.vec_id for r in out if r.rank == 1}
    assert rank1 == {k: 900 + k for k in range(PQ_QUERIES)}, rank1
    for r in out:
        if r.rank == 1:
            assert r.true_sqdist == 0.0, r  # it IS an exact copy


def test_pq_beats_blind_selection(spark, sf_dir):
    """PQ quality floor on the driver corpus: the ADC top-k's TRUE
    mean squared distance must sit well below the all-candidates mean
    (the blind-selection baseline) — the compressed-domain ranking
    carries real signal even on unstructured vectors, where PQ recall
    is naturally modest."""
    import statistics

    from pyspark.sql import functions as F

    from etl_gcp_function_tmabrasil_spark.catalog import load_table
    from etl_gcp_function_tmabrasil_spark.functions.vector import (
        as_double_array,
    )
    from etl_gcp_function_tmabrasil_spark.queries.similarity import (
        PQ_QUERIES,
        ann_pq_adc,
    )

    rows = ann_pq_adc(spark, sf_dir).collect()
    assert sorted({r.rank for r in rows}) == [1, 2, 3, 4, 5]
    assert len({r.query_id for r in rows}) == PQ_QUERIES
    for q in {r.query_id for r in rows}:  # ADC must be rank-monotonic
        seq = [r.adc_dist for r in sorted(
            (x for x in rows if x.query_id == q), key=lambda x: x.rank)]
        assert seq == sorted(seq)
    mean_pq = statistics.mean(r.true_sqdist for r in rows)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array(F.col("embedding")).alias("e")
    )
    q = emb.orderBy("vec_id").limit(PQ_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    sqd = (
        "aggregate(zip_with(e, qe, (x, y) -> (x - y) * (x - y)),"
        " cast(0.0 as double), (s, v) -> s + v)"
    )
    mean_all = statistics.mean(
        r.sq
        for r in emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(F.expr(sqd).alias("sq"))
        .collect()
    )
    # measured r8: 1.56 vs 1.99 at sf0.001/sf0.01 — pin a wide margin
    assert mean_pq < 0.9 * mean_all, (mean_pq, mean_all)


def test_pq_rerank_orders_pool_by_true_distance(spark, sf_dir):
    """The two-stage retrieval contract: (a) the emitted top-k is
    ordered by TRUE distance; (b) every emitted neighbor comes from
    the ADC pool; (c) re-rank recall@k against exact kNN is at least
    the ADC-only ranking's (exact re-ordering of a superset can only
    help)."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from etl_gcp_function_tmabrasil_spark.catalog import load_table
    from etl_gcp_function_tmabrasil_spark.functions.vector import (
        as_double_array,
    )
    from etl_gcp_function_tmabrasil_spark.queries.similarity import (
        PQ_QUERIES,
        PQ_RERANK_POOL,
        PQ_TOPK,
        ann_pq_adc,
        ann_pq_rerank,
    )

    adc = ann_pq_adc(spark, sf_dir).collect()
    rer = ann_pq_rerank(spark, sf_dir).collect()
    # exact top-k per query by brute force
    rows = [
        (r.vec_id, [float(v) for v in r.e])
        for r in load_table(spark, sf_dir, "embeddings")
        .select("vec_id", as_double_array(F.col("embedding")).alias("e"))
        .collect()
    ]
    qids = sorted(v for v, _ in rows)[:PQ_QUERIES]
    vecs = dict(rows)
    exact = {}
    for q in qids:
        d = sorted(
            (sum((a - b) ** 2 for a, b in zip(vecs[v], vecs[q])), v)
            for v in vecs
            if v != q
        )
        exact[q] = {v for _, v in d[:PQ_TOPK]}
    by_q = defaultdict(list)
    for r in rer:
        by_q[r.query_id].append(r)
    assert set(by_q) == set(qids)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        dists = [r.true_sqdist for r in rs]
        assert dists == sorted(dists), q  # (a)
        assert len(rs) == PQ_TOPK
    adc_hits = sum(
        1 for r in adc if r.vec_id in exact[r.query_id]
    )
    rer_hits = sum(1 for r in rer if r.vec_id in exact[r.query_id])
    assert rer_hits >= adc_hits, (rer_hits, adc_hits)  # (c)


#: recall@5 floor of each ANN path on the planted corpus
PLANTED_FLOOR = {
    "ann_ivf_cosine": 1.0,
    "ann_lsh_cosine": 0.775,
    "ann_lsh_multiband": 1.0,
    "ann_pq_adc": 0.975,
    "ann_pq_rerank": 1.0,
    "ann_ivfpq": 1.0,
}
K = 5


def _top(key, cands) -> set[int]:
    """The K candidates with the smallest key, vec_id breaking ties."""
    c = np.fromiter(cands, np.int64)
    return set(c[np.lexsort((c, key[c]))][:K].tolist())


@pytest.fixture(scope="module")
def recall(spark, ann_corpus):
    """recall(corpus, path) -> recall@5 over the queries vec_id <
    N_QUERIES against one numpy exact answer per corpus: cosine, or
    squared L2 for the PQ family. The LSH paths rank the engine's
    bucketmates by exact cosine (their queries emit only a top-1)."""
    from etl_gcp_function_tmabrasil_spark.queries import similarity as sim
    from tests.ann_corpora import query_cosines, vectors

    nq = sim.N_QUERIES

    @functools.cache
    def exact(corpus):
        mat = vectors(ann_corpus(corpus))
        sq = ((mat[None] - mat[:nq, None]) ** 2).sum(-1)
        return -query_cosines(mat, nq), sq

    def approx(d, path, neg_cos):
        if path == "ann_lsh_cosine":  # vectors with a bucketmate
            df = sim.ann_lsh_cosine(spark, d).selectExpr("query_id", "bucket")
        elif path == "ann_lsh_multiband":
            emb = sim._with_norm(load_table(spark, d, "embeddings"), "vec_id")
            df = sim._mb_bands(emb).selectExpr("vec_id", "(band, bkt)")
        else:
            with pytest.MonkeyPatch.context() as mp:
                mp.setattr(sim, "TOP_K", K)
                mp.setattr(sim, "PQ_QUERIES", nq)
                rows = getattr(sim, path)(spark, d).collect()
            col = "neighbor_id" if path == "ann_ivf_cosine" else "vec_id"
            return {q: {r[col] for r in rows if r.query_id == q} for q in range(nq)}
        buckets = [tuple(r) for r in df.collect()]
        mates, cands = defaultdict(set), defaultdict(set)
        for v, b in buckets:
            mates[b].add(v)
        for v, b in buckets:
            cands[v] |= mates[b] - {v}
        return {q: _top(neg_cos[q], cands[q]) for q in range(nq)}

    @functools.cache
    def recall(corpus, path):
        neg_cos, sq = exact(corpus)
        key = sq if "pq" in path else neg_cos
        got = approx(ann_corpus(corpus), path, neg_cos)
        everyone = np.arange(key.shape[1])
        hits = sum(
            len(got[q] & _top(key[q], np.delete(everyone, q))) for q in range(nq)
        )
        return hits / (nq * K)

    return recall


@pytest.mark.parametrize("path", PLANTED_FLOOR)
def test_ann_recall_against_exact_answer(recall, path):
    """On 333 planted clusters of 6 every path meets its floor; on
    sf0.1's 2,000 iid vectors no path beats its planted recall (the
    honest floor); re-rank never loses to ADC alone. Measured, planted /
    iid: IVF 1.0 / 1.0, 12-bit LSH 0.775 / 0.0, multiband 1.0 / 0.1,
    PQ-ADC 0.975 / 0.275, PQ + re-rank 1.0 / 0.6, IVF-PQ 1.0 / 0.1."""
    planted, iid = recall("planted", path), recall("iid", path)
    assert planted >= PLANTED_FLOOR[path], (path, planted)
    assert iid <= planted, (path, iid, planted)
    if path == "ann_pq_rerank":
        for corpus in ("planted", "iid"):
            assert recall(corpus, path) >= recall(corpus, "ann_pq_adc"), corpus

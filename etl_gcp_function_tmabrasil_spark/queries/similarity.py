"""Embedding similarity search over `embeddings` (SURVEY.md §2.2
"Similarity search"): brute-force cosine top-k as the correctness
baseline, random-hyperplane LSH bucketing as the scale path, vector
stats, and embedding-cosine near-dup.

Vector math stays JVM-side via higher-order array functions
(`zip_with` + `aggregate`) — no Python UDF in the hot path. Cosines are
rounded to 4 decimals *before* ranking, with vec_id tiebreaks, so
Spark and the DuckDB oracle select identical top-k sets regardless of
floating-point summation order.

Scale design: the brute-force path broadcasts the (small) query set and
scans candidates once — linear, shuffle-free, but O(Q·N); the LSH path
assigns each vector to a 12-bit bucket row-locally and joins within
buckets, cutting candidate pairs by ~2^12 — that is the 100 TB shape
(plus IVF/cell-probe variants on the same skeleton).

CHOOSING A PATH — recall@5 against the exact answer on sf0.1's 2,000
iid vectors, as measured by
`tests/test_ann_recall.py::test_ann_recall_against_exact_answer` (which
pins each path's floor on a planted-cluster corpus and holds every iid
figure at or below it; full analysis in SCALING.md "ANN recall"): IVF
cell-probe 1.0, PQ-ADC + exact re-rank 0.6, PQ-ADC alone 0.275,
multiband LSH 0.1, IVF-PQ 0.1, sign-LSH 0.0. Random vectors
are PQ's worst case (no subspace structure to quantize), so on
unstructured embeddings prefer `ann_ivf_cosine`; reach for PQ when
memory must stay at code-width per vector AND the embedding space has
learnable structure — and then ALWAYS with the re-rank stage. IVF-PQ
(`ann_ivfpq`) is the production-scale shape (cells cut candidates,
residual codes cut bytes) but COMPOUNDS both approximations — on this
unstructured corpus its recall collapses to 0.1, the honest floor of
deploying IVFADC without structured embeddings or a re-rank. Sign-LSH
is a near-dup candidate GENERATOR (high-cosine pairs collide), not a
kNN answerer — use it for dedup blocking, never top-k retrieval.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame, SparkSession, functions as F, Window as W

from etl_gcp_function_tmabrasil_spark.catalog import load_table

N_QUERIES = 8  # brute-force query set: vec_id < 8
TOP_K = 3
N_PLANES = 12  # LSH hyperplanes → 2^12 buckets
DIM = 64


def _hyperplanes() -> list[list[float]]:
    """Deterministic random hyperplanes (seed 42), rounded to 6 decimals
    so the same literals embed exactly in both Spark and the SQL oracle."""
    rng = np.random.RandomState(42)
    return [[round(float(v), 6) for v in row] for row in rng.randn(N_PLANES, DIM)]


from etl_gcp_function_tmabrasil_spark.functions.vector import (
    as_double_array as _as_double,
    dot as _dot,
    l2norm as _norm,
)
from etl_gcp_function_tmabrasil_spark.operators.rowlocal_argmin import (
    argmin_cell,
    centroid_array,
    top_cells,
)


def _with_norm(df: DataFrame, *keep: str) -> DataFrame:
    """Project (keep..., e: array<double>, nrm: double) with the L2 norm
    computed once per row. `e` is referenced three times by non-cheap
    expressions, so CollapseProject keeps the cast-to-double projection
    materialized instead of inlining it into the norm lambda."""
    cast = df.select(*keep, _as_double(F.col("embedding")).alias("e"))
    return cast.select(*keep, "e", _norm(F.col("e")).alias("nrm"))


_SQL_DOT = (
    "list_sum(list_transform(generate_series(1, len({a})), i -> {a}[i] * {b}[i]))"
)
_SQL_NORM = "sqrt(list_sum(list_transform({a}, x -> x * x)))"


def knn_bruteforce_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: for each query vector (vec_id < 8), the 3
    nearest neighbors by cosine similarity (excluding itself)."""
    # Candidates pay O(Q·DIM) math per row — rebalance so the scan's
    # partitioning (1 task on a single-row-group file) never serializes
    # it. The tiny query side stays on a plain scan (it is broadcast).
    # Norms are computed ONCE per row and carried through the join (the
    # cached value is the same expression on the same input, so cosines
    # are bit-identical to recomputing per pair — oracle-safe), cutting
    # interpreted array passes per pair from 6 to 2.
    emb = _with_norm(
        load_table(spark, sf_dir, "embeddings", rebalance=True), "vec_id"
    )
    q = _with_norm(
        load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < N_QUERIES),
        "vec_id",
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    cos = _dot(F.col("qe"), F.col("e")) / (F.col("qnrm") * F.col("nrm"))
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", F.round(cos, 4).alias("cosine"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "rn", F.col("vec_id").alias("neighbor_id"), "cosine")
    )


def _knn_sql() -> str:
    dot = _SQL_DOT.format(a="q.e", b="c.e")
    na = _SQL_NORM.format(a="q.e")
    nb = _SQL_NORM.format(a="c.e")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id AS query_id, e FROM e WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, c.vec_id,
    ROUND({dot} / ({na} * {nb}), 4) AS cosine
  FROM e c CROSS JOIN q
  WHERE c.vec_id <> q.query_id
)
SELECT query_id, rn, vec_id AS neighbor_id, cosine FROM (
  SELECT query_id, vec_id, cosine,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM scored
) t WHERE rn <= {TOP_K}
ORDER BY query_id, rn
"""


def ann_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via random-hyperplane LSH: 12 sign bits → bucket;
    nearest bucketmate per vector by cosine.

    .. warning:: SINGLE-TABLE PEDAGOGICAL BASELINE — not the
       production configuration. One 12-bit table means a true
       neighbor must agree on ALL 12 sign bits to be found; recall@5
       is **0.0 on sf0.1's iid corpus** and 0.775 on the
       planted-cluster corpus
       (``tests/test_ann_recall.py::test_ann_recall_against_exact_answer``).
       For real retrieval use ``ann_lsh_multiband`` (4 OR'd 8-bit
       tables — recall@5 1.0 on the planted corpus) or
       ``ann_ivfpq_rerank``; see
       SCALING.md's ANN recall section. This query stays registered
       as the single-table reference point the multiband variant is
       measured against.

    Bucket assignment is row-local (12 dot products against broadcast
    literal hyperplanes); the only shuffle is the within-bucket
    self-join. Recall vs brute force is unit-tested at sf0.001.
    """
    planes = _hyperplanes()
    # 12 dot products per row for bucketing — rebalance so the sketch
    # stage parallelizes regardless of the input file's row-group layout.
    # Norms ride along from the same projection so the within-bucket
    # scoring join pays one dot per pair, not three array passes.
    emb = _with_norm(
        load_table(spark, sf_dir, "embeddings", rebalance=True), "vec_id"
    )
    # one SQL string per bit (see _mb_bands: per-dim F.lit() costs
    # hundreds of Py4J round trips of driver-side construction)
    bits = []
    for i, p in enumerate(planes):
        lit = (
            "cast(array("
            + ", ".join(str(v) for v in p)
            + ") as array<double>)"
        )
        dot = (
            f"aggregate(zip_with(e, {lit}, (x, y) -> x * y), "
            "cast(0.0 as double), (s, x) -> s + x)"
        )
        bits.append(f"(CASE WHEN round({dot}, 6) > 0 THEN {2**i} ELSE 0 END)")
    bucket = F.expr(" + ".join(bits))
    b = emb.select("vec_id", "e", "nrm", bucket.alias("bucket"))
    x, y = b.alias("x"), b.alias("y")
    cos = _dot(F.col("x.e"), F.col("y.e")) / (F.col("x.nrm") * F.col("y.nrm"))
    scored = (
        x.join(
            y,
            (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.vec_id") != F.col("y.vec_id")),
        )
        .select(
            F.col("x.vec_id").alias("query_id"),
            F.col("x.bucket").alias("bucket"),
            F.col("y.vec_id").alias("neighbor_id"),
            F.round(cos, 4).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", "bucket", "neighbor_id", "cosine")
    )


def _ann_sql() -> str:
    planes = _hyperplanes()
    bits = []
    for i, p in enumerate(planes):
        lit = "([" + ", ".join(str(v) for v in p) + "]::DOUBLE[])"
        dot = _SQL_DOT.format(a="e", b=lit)
        bits.append(f"(CASE WHEN ROUND({dot}, 6) > 0 THEN {2**i} ELSE 0 END)")
    bucket = " + ".join(bits)
    cos = "{dot} / ({nx} * {ny})".format(
        dot=_SQL_DOT.format(a="x.e", b="y.e"),
        nx=_SQL_NORM.format(a="x.e"),
        ny=_SQL_NORM.format(a="y.e"),
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
b AS (SELECT vec_id, e, {bucket} AS bucket FROM e),
scored AS (
  SELECT x.vec_id AS query_id, x.bucket AS bucket, y.vec_id AS neighbor_id,
    ROUND({cos}, 4) AS cosine
  FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id <> y.vec_id
)
SELECT query_id, bucket, neighbor_id, cosine FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rn
  FROM scored
) t WHERE rn = 1
ORDER BY query_id
"""


N_CELLS = 16  # IVF coarse cells
N_PROBE = 4  # cells probed per query


def ann_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via IVF cell-probe: assign every vector to its
    nearest coarse centroid (the inverted file), then answer each query
    by scanning only its N_PROBE nearest cells.

    Centroids here are the first N_CELLS vectors (deterministic stand-in
    for a k-means codebook — the plumbing, not the training, is the
    operator). Assignment is a broadcast cross join against 16 centroids
    + a per-vector argmax — row-local work, no big shuffle; the probe
    join is keyed on cell_id, so the candidate scan touches
    N_PROBE/N_CELLS of the corpus — that fraction holds at 100 TB.
    Cosines are rounded before ranking (6dp assign / 4dp score) with id
    tiebreaks so Spark and DuckDB pick identical cells and neighbors.
    """
    # Assignment computes N_CELLS cosines per corpus row — rebalance the
    # corpus side; centroids/queries stay plain scans (broadcast). All
    # three legs carry once-per-row norms (bit-identical to recomputing
    # per pair) so every cosine is one interpreted dot, not three passes.
    emb = _with_norm(
        load_table(spark, sf_dir, "embeddings", rebalance=True), "vec_id"
    )
    cent = _with_norm(
        load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < N_CELLS),
        "vec_id",
    ).select(
        F.col("vec_id").alias("cell_id"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cnrm"),
    )
    # per-vector argmax over N_CELLS computed ROW-LOCALLY via the shared
    # broadcast-centroid-array argmin (operators/rowlocal_argmin, also
    # the k-means assignment core — the rationale for not using
    # min_by/groupBy lives there): metric = negated 6dp-rounded cosine,
    # so ties resolve to the lower cell_id, matching the oracle.
    def neg_cos(row_vec: str, row_nrm: str) -> str:
        return (
            f"-round(aggregate(zip_with({row_vec}, c.ce, (x, y) -> x * y),"
            f" cast(0.0 as double), (s, x) -> s + x) / ({row_nrm} * c.cnrm), 6)"
        )

    centarr = centroid_array(cent, "cell_id", "ce", "cnrm")
    assigned = emb.crossJoin(centarr).select(
        "vec_id", "e", "nrm", argmin_cell(neg_cos("e", "nrm"))["cell_id"].alias("cell_id")
    )
    q = _with_norm(
        load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < N_QUERIES),
        "vec_id",
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    # top-N_PROBE cells per query, row-locally over the same broadcast
    # centroid array: ascending (-cos, cell_id) structs = cosine-desc
    # with cell_id tiebreak — same probe SET as the oracle's
    # rn <= N_PROBE, no shuffle, no window
    probes = (
        q.crossJoin(centarr)
        .select(
            "query_id",
            "qe",
            "qnrm",
            F.explode(top_cells(neg_cos("qe", "qnrm"), N_PROBE)).alias("pc"),
        )
        .select("query_id", "qe", "qnrm", F.col("pc.cell_id").alias("cell_id"))
    )
    cos = _dot(F.col("qe"), F.col("e")) / (F.col("qnrm") * F.col("nrm"))
    wk = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        F.broadcast(probes)
        .join(assigned, "cell_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cos, 4).alias("cosine"),
        )
        .withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "rn", "neighbor_id", "cosine")
    )


def _ivf_sql() -> str:
    def cos(a: str, b: str, nd: int) -> str:
        return "ROUND({dot} / ({na} * {nb}), {nd})".format(
            dot=_SQL_DOT.format(a=a, b=b),
            na=_SQL_NORM.format(a=a),
            nb=_SQL_NORM.format(a=b),
            nd=nd,
        )

    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
cent AS (SELECT vec_id AS cell_id, e AS ce FROM e WHERE vec_id < {N_CELLS}),
assigned AS (
  SELECT vec_id, e, cell_id FROM (
    SELECT e.vec_id, e.e, cent.cell_id,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id
                         ORDER BY {cos("e.e", "cent.ce", 6)} DESC, cent.cell_id ASC) AS rn
    FROM e CROSS JOIN cent
  ) t WHERE rn = 1
),
probes AS (
  SELECT query_id, qe, cell_id FROM (
    SELECT q.vec_id AS query_id, q.e AS qe, cent.cell_id,
      ROW_NUMBER() OVER (PARTITION BY q.vec_id
                         ORDER BY {cos("q.e", "cent.ce", 6)} DESC, cent.cell_id ASC) AS rn
    FROM e q CROSS JOIN cent WHERE q.vec_id < {N_QUERIES}
  ) t WHERE rn <= {N_PROBE}
)
SELECT query_id, rn, neighbor_id, cosine FROM (
  SELECT p.query_id, a.vec_id AS neighbor_id,
    {cos("p.qe", "a.e", 4)} AS cosine,
    ROW_NUMBER() OVER (PARTITION BY p.query_id
                       ORDER BY {cos("p.qe", "a.e", 4)} DESC, a.vec_id ASC) AS rn
  FROM probes p JOIN assigned a ON p.cell_id = a.cell_id
  WHERE a.vec_id <> p.query_id
) t WHERE rn <= {TOP_K}
ORDER BY query_id, rn
"""


def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-column stats per label: count + L2-norm distribution."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "label", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    norm = F.round(_norm(F.col("e")), 6)
    return (
        emb.select("label", norm.alias("norm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("norm").cast("decimal(18,6)")).cast("double").alias("sum_norm"),
            F.min("norm").alias("min_norm"),
            F.max("norm").alias("max_norm"),
        )
        .orderBy("label")
    )


def _emb_stats_sql() -> str:
    norm = _SQL_NORM.format(a="e")
    return f"""
WITH e AS (SELECT label, embedding::DOUBLE[] AS e FROM embeddings),
n AS (SELECT label, ROUND({norm}, 6) AS norm FROM e)
SELECT label, COUNT(*) AS n,
  CAST(SUM(CAST(norm AS DECIMAL(18,6))) AS DOUBLE) AS sum_norm,
  MIN(norm) AS min_norm,
  MAX(norm) AS max_norm
FROM n GROUP BY label ORDER BY label
"""


def embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension statistics across the whole embedding corpus
    (posexplode → groupBy(dim)): the column-profile pass a feature-store
    runs before normalization/quantization.

    Scale notes: posexplode multiplies rows by DIM (bounded, 64) but
    each exploded row is 12 bytes; the agg shuffles DIM pre-aggregated
    partials per map task — tiny. Alternative at extreme scale: a
    treeAggregate-style pandas UDF summing fixed-width vectors; the
    declarative explode wins until DIM is in the thousands.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "dim", "v"
        )
    )
    return (
        emb.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(18,6)")).cast("double").alias("sum_v"),
            F.round(F.min("v"), 6).alias("min_v"),
            F.round(F.max("v"), 6).alias("max_v"),
        )
        .orderBy("dim")
    )


# DuckDB zips parallel UNNESTs; generate_series(0, len-1) gives the
# 0-based dim index matching Spark's posexplode.
_DIM_PROFILE_SQL = """
WITH e AS (SELECT embedding::DOUBLE[] AS e FROM embeddings),
x AS (
  SELECT UNNEST(generate_series(0, len(e) - 1)) AS dim, UNNEST(e) AS v FROM e
)
SELECT dim, COUNT(*) AS n,
  CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS sum_v,
  ROUND(MIN(v), 6) AS min_v,
  ROUND(MAX(v), 6) AS max_v
FROM x GROUP BY dim ORDER BY dim
"""


DEDUP_COS_MIN = 0.95
_DEDUP_BANDS = 3
_DEDUP_BAND_BITS = 4  # 3 bands x 4 bits carved from the 12 hyperplanes


def _band_bits(e_col: str, band: int) -> Column:
    """4-bit band value for `band` from the shared hyperplane family —
    row-local sign bits, same literals as the SQL oracle. Composed as
    ONE SQL string (one Py4J call) instead of per-dim F.lit() — the
    Column-API form cost hundreds of Py4J round trips of driver-side
    construction per band (see _mb_bands)."""
    planes = _hyperplanes()
    bits = []
    for j in range(_DEDUP_BAND_BITS):
        p = planes[band * _DEDUP_BAND_BITS + j]
        lit = (
            "cast(array("
            + ", ".join(str(v) for v in p)
            + ") as array<double>)"
        )
        dot = (
            f"aggregate(zip_with({e_col}, {lit}, (x, y) -> x * y), "
            "cast(0.0 as double), (s, x) -> s + x)"
        )
        bits.append(f"(CASE WHEN round({dot}, 6) > 0 THEN {2**j} ELSE 0 END)")
    return F.expr(" + ".join(bits))


def cosine_dedup_candidates(emb: DataFrame) -> DataFrame:
    """Banded-LSH near-dup pairs over (vec_id, e: array<double>,
    nrm: double): generate candidates by equi-joining on (band_id,
    band_value), exact-verify cosine ≥ 0.95, distinct the survivors.

    The MinHash-LSH construction transplanted to embedding space: a pair
    at cosine 0.95 (θ≈18°) flips any one sign bit with p≈θ/π≈0.1, so it
    collides on a 4-bit band with p≈0.65 and on ≥1 of 3 bands with
    p≈0.96 — while the expected candidate set stays near-linear (each
    band splits the corpus 16 ways; at real corpus sizes use more/wider
    bands, the knobs below). Every emitted pair is exact-verified, so
    precision is 1.0 by construction; banding only affects recall.
    """
    bands = [_band_bits("e", b) for b in range(_DEDUP_BANDS)]
    bb = emb.select(
        "vec_id", "e", "nrm", F.posexplode(F.array(*bands)).alias("band_id", "band_val")
    )
    x, y = bb.alias("x"), bb.alias("y")
    cos = _dot(F.col("x.e"), F.col("y.e")) / (F.col("x.nrm") * F.col("y.nrm"))
    return (
        x.join(
            y,
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_val") == F.col("y.band_val"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(
            F.col("x.vec_id").alias("vec1"),
            F.col("y.vec_id").alias("vec2"),
            F.round(cos, 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= DEDUP_COS_MIN)
        .distinct()
    )


def embedding_cosine_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ 0.95 among banded-LSH
    candidates (the embedding-space twin of MinHash text dedup).

    Blocking is the hyperplane band join — O(corpus) sketch work plus an
    equi-join whose fan-out is governed by band width, never an
    all-pairs or label-block quadratic. Planted-near-dup recall is
    pinned in tests/test_ann_recall.py."""
    # Rebalanced: the sketch math (12 dots/row) inherits the scan's
    # partitioning, and a single-row-group layout would serialize it.
    emb = _with_norm(
        load_table(spark, sf_dir, "embeddings", rebalance=True), "vec_id"
    )
    return cosine_dedup_candidates(emb)


def _sql_band(band: int) -> str:
    planes = _hyperplanes()
    bits = []
    for j in range(_DEDUP_BAND_BITS):
        p = planes[band * _DEDUP_BAND_BITS + j]
        lit = "([" + ", ".join(str(v) for v in p) + "]::DOUBLE[])"
        dot = _SQL_DOT.format(a="e", b=lit)
        bits.append(f"(CASE WHEN ROUND({dot}, 6) > 0 THEN {2**j} ELSE 0 END)")
    return " + ".join(bits)


def _emb_dedup_sql() -> str:
    cos = "{dot} / ({nx} * {ny})".format(
        dot=_SQL_DOT.format(a="x.e", b="y.e"),
        nx=_SQL_NORM.format(a="x.e"),
        ny=_SQL_NORM.format(a="y.e"),
    )
    branches = []
    for b in range(_DEDUP_BANDS):
        branches.append(
            f"""SELECT x.vec_id AS vec1, y.vec_id AS vec2, ROUND({cos}, 4) AS cosine
  FROM b x JOIN b y ON x.band{b} = y.band{b} AND x.vec_id < y.vec_id"""
        )
    cand = "\n  UNION\n  ".join(branches)
    band_cols = ", ".join(f"{_sql_band(b)} AS band{b}" for b in range(_DEDUP_BANDS))
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
b AS (SELECT vec_id, e, {band_cols} FROM e),
cand AS (
  {cand}
)
SELECT vec1, vec2, cosine FROM cand
WHERE cosine >= {DEDUP_COS_MIN}
ORDER BY vec1, vec2
"""


KMEANS_K = 8
KMEANS_ITERS = 3


def kmeans_ivf_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the IVF coarse codebook with real Lloyd iterations
    (operators/kmeans.py) instead of the first-N stand-in: 8 cells, 3
    iterations, deterministic init. Output is the per-cell summary
    (size, mean squared distance, centroid norm).

    EXACT oracle: the trainer rounds every argmin distance to 6 dp and
    computes every centroid mean as a decimal sum of 9 dp-rounded
    components (the PageRank trick — dedup_approx.pagerank_dedup_graph),
    so each iteration is bit-identical across engines and the DuckDB
    twin simply unrolls the same three iterations as CTEs. The summary
    means here use the same decimal-sum construction.
    """
    from etl_gcp_function_tmabrasil_spark.operators.kmeans import kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True).select(
        "vec_id", _as_double(F.col("embedding")).alias("e")
    )
    cent, assigned = kmeans_fit(
        emb, k=KMEANS_K, iters=KMEANS_ITERS, share_key=f"emb:{sf_dir}"
    )
    sizes = assigned.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.round(
            F.sum(F.col("sqdist").cast("decimal(25,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_sqdist"),
    )
    cnorm = cent.select(
        "cell_id", F.round(_norm(F.col("ce")), 6).alias("centroid_norm")
    )
    return (
        sizes.join(cnorm, "cell_id")
        .select("cell_id", "n_members", "mean_sqdist", "centroid_norm")
        .orderBy("cell_id")
    )


def _kmeans_cte_prefix() -> str:
    """The unrolled-Lloyd CTE chain mirroring operators/kmeans.py
    bit-for-bit (rounded argmin keys, decimal-exact means): after it,
    ``a{KMEANS_ITERS}`` is exactly the (vec_id, e, cell_id, sqdist)
    assignment kmeans_fit returns and ``c{KMEANS_ITERS}`` the final
    centroids. Shared by the codebook gate and the SemDeDup gate so
    the two oracles cannot drift on the training loop."""
    sq = (
        "ROUND(list_sum(list_transform(generate_series(1, len(v.e)),"
        " i -> (v.e[i] - c.ce[i]) * (v.e[i] - c.ce[i]))), 6)"
    )
    parts = []
    prev = "c0"
    for n in range(1, KMEANS_ITERS + 1):
        parts.append(f"""
s{n} AS (
  SELECT v.vec_id, v.e, c.cell_id, {sq} AS sq
  FROM e v CROSS JOIN {prev} c
),
a{n} AS (
  SELECT vec_id, e, cell_id, sq AS sqdist FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY sq ASC, cell_id ASC) AS rn
    FROM s{n}
  ) t WHERE rn = 1
),
u{n} AS (
  SELECT cell_id, dim,
    ROUND(CAST(SUM(CAST(ROUND(val, 9) AS DECIMAL(25,9))) AS DOUBLE)
          / COUNT(*), 9) AS m
  FROM (
    SELECT cell_id, UNNEST(generate_series(0, len(e) - 1)) AS dim,
           UNNEST(e) AS val
    FROM a{n}
  ) GROUP BY cell_id, dim
),
c{n} AS (SELECT cell_id, list(m ORDER BY dim) AS ce FROM u{n} GROUP BY cell_id)""")
        prev = f"c{n}"
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
c0 AS (
  SELECT cell_id, ce FROM (
    SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS cell_id, e AS ce FROM e
  ) t WHERE cell_id <= {KMEANS_K}
),{",".join(parts)}"""


def _kmeans_sql() -> str:
    """Codebook summary over the shared unrolled-Lloyd prefix."""
    norm = _SQL_NORM.format(a="c.ce")
    return f"""
{_kmeans_cte_prefix()},
sizes AS (
  SELECT cell_id, COUNT(*) AS n_members,
    ROUND(CAST(SUM(CAST(sqdist AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*), 6)
      AS mean_sqdist
  FROM a{KMEANS_ITERS} GROUP BY cell_id
)
SELECT CAST(s.cell_id AS INT) AS cell_id, s.n_members, s.mean_sqdist,
  ROUND({norm}, 6) AS centroid_norm
FROM sizes s JOIN c{KMEANS_ITERS} c ON s.cell_id = c.cell_id
ORDER BY cell_id
"""


SEMDEDUP_COS_MIN = 0.30


def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embeddings with the SAME
    trainer as kmeans_ivf_codebook (operators/kmeans.kmeans_fit — k=8,
    3 Lloyd iterations, deterministic init), then WITHIN each cluster
    mark every vector whose cosine to a lower-vec_id cluster-mate
    reaches θ=0.30 as a semantic duplicate (the paper's
    keep-one-per-near-dup-set rule with a deterministic lowest-id
    survivor). Output: the dropped set — vec_id, its cell, how many
    lower-id mates triggered the drop, and the strongest cosine.

    Distinct from embedding_cosine_dedup: that gate emits near-dup
    PAIRS found by hyperplane-LSH banding at cosine ≥ 0.95 (syntactic
    near-copies); this one makes a per-document KEEP/DROP decision at a
    much looser threshold, scoped to a learned semantic cluster — the
    corpus-diversification pass, not the copy-detector.

    Scale design: the quadratic step is confined to one cluster — the
    paper's own trick: k grows with the corpus so per-cell membership
    stays bounded, and the within-cell pairing is an equi-join on
    cell_id, never an all-pairs (guarded by
    tests/test_plans.py::test_no_registered_query_grows_a_cartesian).
    At 100 TB k is ~1e5, so cell_id is a high-cardinality, evenly
    shuffled key; the k=8 here is the test-scale setting shared with
    the codebook gate.

    EXACT oracle: the cluster assignment reuses the codebook gate's
    bit-identical unrolled-Lloyd CTE prefix (_kmeans_cte_prefix), and
    cosines are rounded to 4 dp before the threshold compare on both
    engines (the embedding_cosine_dedup convention).
    """
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True).select(
        "vec_id", _as_double(F.col("embedding")).alias("e")
    )
    # share_key: declared to use "the SAME trainer as kmeans_ivf_codebook"
    # (same emb projection, k, iters), so the two gates train ONCE per
    # session (r16, trainer memo in operators/kmeans.py)
    return semdedup_drop_set(emb, share_key=f"emb:{sf_dir}")


def semdedup_drop_set(
    emb: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    theta: float = SEMDEDUP_COS_MIN,
    share_key: str | None = None,
) -> DataFrame:
    """The SemDeDup core over (vec_id, e: array<double>): cluster with
    kmeans_fit, then report every vector with a lower-id cluster-mate
    at cosine ≥ theta (rounded to 4 dp first). Factored out so tests
    can run it on planted-duplicate frames and the sf1 probe can scale
    k with the corpus (the paper's contract — per-cell membership, and
    with it the per-cell pair count, stays bounded as N grows)."""
    from etl_gcp_function_tmabrasil_spark.operators.kmeans import kmeans_fit

    _, assigned = kmeans_fit(emb, k=k, iters=iters, share_key=share_key)
    m = emb.join(assigned.select("vec_id", "cell_id"), "vec_id").select(
        "vec_id", "cell_id", "e", _norm(F.col("e")).alias("nrm")
    )
    x, y = m.alias("x"), m.alias("y")
    cos = _dot(F.col("x.e"), F.col("y.e")) / (F.col("x.nrm") * F.col("y.nrm"))
    return (
        x.join(
            y,
            (F.col("x.cell_id") == F.col("y.cell_id"))
            & (F.col("x.vec_id") > F.col("y.vec_id")),
        )
        .select(
            F.col("x.vec_id").alias("vec_id"),
            F.col("x.cell_id").alias("cell_id"),
            F.round(cos, 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= theta)
        .groupBy("vec_id", "cell_id")
        .agg(
            F.count(F.lit(1)).alias("n_dup_mates"),
            F.max("cosine").alias("max_cosine"),
        )
        .orderBy("vec_id")
    )


def _semdedup_sql() -> str:
    """Drop-set over the shared unrolled-Lloyd prefix."""
    cos = "{dot} / ({nx} * {ny})".format(
        dot=_SQL_DOT.format(a="x.e", b="y.e"),
        nx=_SQL_NORM.format(a="x.e"),
        ny=_SQL_NORM.format(a="y.e"),
    )
    n = KMEANS_ITERS
    return f"""
{_kmeans_cte_prefix()},
pairs AS (
  SELECT x.vec_id AS vec_id, x.cell_id AS cell_id, ROUND({cos}, 4) AS cosine
  FROM a{n} x JOIN a{n} y
    ON x.cell_id = y.cell_id AND x.vec_id > y.vec_id
)
SELECT vec_id, CAST(cell_id AS INT) AS cell_id,
  COUNT(*) AS n_dup_mates, MAX(cosine) AS max_cosine
FROM pairs WHERE cosine >= {SEMDEDUP_COS_MIN}
GROUP BY vec_id, cell_id
ORDER BY vec_id
"""


PQ_M = 4  #: subspaces (64-dim embeddings -> 4 x 16)
PQ_SUBDIM = 16
PQ_K = 8  #: centroids per subspace codebook
PQ_ITERS = 2  #: Lloyd iterations per subspace (oracle unrolls them)
PQ_QUERIES = 3  #: query set = the lowest vec_ids
PQ_TOPK = 5


def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
    Search", TPAMI 2011) — the memory-side complement of the IVF cell
    probe: each vector is compressed to PQ_M one-byte codes (argmin
    cell per 16-dim subspace against a per-subspace codebook trained
    with the shared exact Lloyd loop, operators/kmeans.py), and query
    distance is approximated as the sum over subspaces of a
    precomputed query->centroid distance table entry — the scan reads
    CODES, never raw vectors.

    100 TB shape: codebook training touches each subspace once (same
    bounded updates as kmeans_ivf_codebook); encoding is the row-local
    zero-shuffle broadcast argmin (kmeans_assign); the ADC scan is a
    broadcast hash join of the code table (PQ_M rows per vector,
    fixed-width ints) against a queries x subspaces x centroids
    distance table (|Q| * PQ_M * PQ_K rows — metadata-sized), then a
    per-query top-k window. Raw vectors are read only to decorate the
    k winners with their true distance — at 64 dims the code table is
    16x smaller than the vectors, the actual point of PQ.

    EXACT oracle: distances rounded to 6 dp (argmin AND table
    entries), ADC summed as DECIMAL(25,6), per-query ranking breaks
    ties on vec_id; the DuckDB twin unrolls the same per-subspace
    Lloyd chains, so codebooks, codes, and rankings are bit-identical.
    """
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True).select(
        "vec_id", _as_double(F.col("embedding")).alias("e")
    )
    return pq_topk(emb, share_key=f"pq:{sf_dir}")


def pq_topk(
    emb: DataFrame,
    rerank_pool: int | None = None,
    share_key: str | None = None,
) -> DataFrame:
    """The PQ train/encode/ADC pipeline over (vec_id, e: array<double>)
    — factored out so tests can run it on planted fixtures (an exact
    copy of a query must rank #1: its codes are the query's argmin
    codes, so its ADC is the minimum any vector can achieve).

    ``rerank_pool``: when set, the ADC ranking keeps that many
    candidates per query and the final top-PQ_TOPK is re-ranked by
    EXACT distance over just the pool — the standard two-stage
    retrieve-then-rerank fix for PQ's quantization error (ADC-only
    recall@5 is 0.275 on sf0.1's iid vectors and 0.6 with the re-rank,
    tests/test_ann_recall.py; the exact re-rank touches only pool-size
    raw vectors per query, preserving the codes-not-vectors scan
    economics)."""
    from functools import reduce

    from etl_gcp_function_tmabrasil_spark.operators.kmeans import (
        kmeans_assign,
        kmeans_fit,
    )

    code_frames, cent_frames = [], []
    for m in range(PQ_M):
        sub = emb.select(
            "vec_id", F.slice("e", m * PQ_SUBDIM + 1, PQ_SUBDIM).alias("e")
        )
        cent, _ = kmeans_fit(
            sub,
            k=PQ_K,
            iters=PQ_ITERS,
            share_key=f"{share_key}:sub{m}" if share_key else None,
        )
        code_frames.append(
            kmeans_assign(sub, cent).select(
                "vec_id", F.lit(m).alias("sub"), F.col("cell_id").alias("code")
            )
        )
        cent_frames.append(cent.select(F.lit(m).alias("sub"), "cell_id", "ce"))
    codes = reduce(DataFrame.unionByName, code_frames)
    cents = reduce(DataFrame.unionByName, cent_frames)

    q = (
        emb.orderBy("vec_id")
        .limit(PQ_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("e").alias("qe"))
    )
    q_sub = q.select(
        "query_id",
        F.posexplode(
            F.array(
                *[
                    F.slice("qe", m * PQ_SUBDIM + 1, PQ_SUBDIM)
                    for m in range(PQ_M)
                ]
            )
        ).alias("sub", "qs"),
    )
    sqd = (
        "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
        " cast(0.0 as double), (s, v) -> s + v)"
    )
    dtable = q_sub.join(F.broadcast(cents), "sub").select(
        "query_id",
        "sub",
        F.col("cell_id").alias("code"),
        F.round(F.expr(sqd.format(a="qs", b="ce")), 6).alias("d"),
    )
    adc = (
        codes.join(F.broadcast(dtable), ["sub", "code"])
        .groupBy("query_id", "vec_id")
        .agg(
            F.sum(F.col("d").cast("decimal(25,6)")).cast("double").alias(
                "adc_dist"
            )
        )
    )
    pool = rerank_pool if rerank_pool is not None else PQ_TOPK
    ranked = (
        adc.filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "rank",
            F.row_number().over(
                W.partitionBy("query_id").orderBy("adc_dist", "vec_id")
            ),
        )
        .filter(F.col("rank") <= pool)
    )
    decorated = (
        ranked.join(emb, "vec_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "rank",
            "vec_id",
            "adc_dist",
            F.round(F.expr(sqd.format(a="e", b="qe")), 6).alias(
                "true_sqdist"
            ),
        )
    )
    if rerank_pool is None:
        return decorated.orderBy("query_id", "rank")
    rer = decorated.withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy("query_id").orderBy("true_sqdist", "vec_id")
        ),
    ).filter(F.col("rank") <= PQ_TOPK)
    return rer.select(
        "query_id", "rank", "vec_id", "true_sqdist", "adc_dist"
    ).orderBy("query_id", "rank")


def _pq_cte_prefix(src: str = "e", train_where: str = "") -> str:
    """Per-subspace unrolled-Lloyd chains + final-codebook encoding,
    mirroring ann_pq_adc bit-for-bit (the _kmeans_cte_prefix
    construction, parameterized by subspace slice): after it,
    ``enc{m}`` is (vec_id, code) under subspace m's FINAL centroids
    ``cm{m}_{PQ_ITERS}``. ``src`` names the (vec_id, e) CTE the
    subspace slices read — ``e`` for raw embeddings (ADC/re-rank),
    ``er`` for coarse-cell residuals (IVF-PQ). ``train_where``
    (a SQL predicate over vec_id) restricts the rows the codebooks
    TRAIN on — init and every Lloyd step — while encoding still
    covers every row; IVF-PQ passes ``vec_id >= IVFPQ_CELLS`` because
    the coarse exemplars' residuals are exactly zero and a k-lowest-
    vec_id init would otherwise start all PQ_K centroids at the zero
    vector and collapse the codebook to one code (the r11 recall-0.0
    root cause)."""
    sq = (
        "ROUND(list_sum(list_transform(generate_series(1, len(v.e)),"
        " i -> (v.e[i] - c.ce[i]) * (v.e[i] - c.ce[i]))), 6)"
    )
    parts = []
    for m in range(PQ_M):
        lo, hi = m * PQ_SUBDIM + 1, (m + 1) * PQ_SUBDIM
        tw = f" WHERE {train_where}" if train_where else ""
        parts.append(f"""
em{m} AS (SELECT vec_id, e[{lo}:{hi}] AS e FROM {src}),
cm{m}_0 AS (
  SELECT cell_id, ce FROM (
    SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS cell_id, e AS ce
    FROM em{m}{tw}
  ) t WHERE cell_id <= {PQ_K}
)""")
        prev = f"cm{m}_0"
        for n in range(1, PQ_ITERS + 1):
            parts.append(f"""
sm{m}_{n} AS (
  SELECT v.vec_id, v.e, c.cell_id, {sq} AS sq
  FROM (SELECT * FROM em{m}{tw}) v CROSS JOIN {prev} c
),
am{m}_{n} AS (
  SELECT vec_id, e, cell_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY sq ASC, cell_id ASC) AS rn
    FROM sm{m}_{n}
  ) t WHERE rn = 1
),
um{m}_{n} AS (
  SELECT cell_id, dim,
    ROUND(CAST(SUM(CAST(ROUND(val, 9) AS DECIMAL(25,9))) AS DOUBLE)
          / COUNT(*), 9) AS m
  FROM (
    SELECT cell_id, UNNEST(generate_series(0, len(e) - 1)) AS dim,
           UNNEST(e) AS val
    FROM am{m}_{n}
  ) GROUP BY cell_id, dim
),
cm{m}_{n} AS (
  SELECT cell_id, list(m ORDER BY dim) AS ce FROM um{m}_{n}
  GROUP BY cell_id
)""")
            prev = f"cm{m}_{n}"
        parts.append(f"""
enc{m} AS (
  SELECT vec_id, cell_id AS code FROM (
    SELECT v.vec_id, c.cell_id,
      ROW_NUMBER() OVER (PARTITION BY v.vec_id
                         ORDER BY {sq} ASC, c.cell_id ASC) AS rn
    FROM em{m} v CROSS JOIN {prev} c
  ) t WHERE rn = 1
)""")
    return (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e"
        " FROM embeddings)," + ",".join(parts)
    )


PQ_RERANK_POOL = 25  #: ADC candidates kept per query for exact re-rank


def ann_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage PQ retrieval: ADC candidate generation (top
    PQ_RERANK_POOL per query over the code table) followed by an EXACT
    re-rank of just those candidates — the standard production fix for
    PQ's quantization error (Jégou et al. §V: "re-ranking with source
    coding"): the scan stays on codes, raw vectors are read for only
    pool-size rows per query, and the emitted top-k is ordered by TRUE
    distance. On sf0.1's iid vectors ADC-only recall@5 is 0.275 and the
    re-rank lifts it to 0.6, and it never loses recall to the ADC-only
    ranking (tests/test_ann_recall.py); the re-rank recovers every true
    neighbor the pool catches.

    Exactness/oracle: same unrolled-Lloyd CTE prefix as `ann_pq_adc`;
    the pool rank breaks ties on (adc_dist, vec_id), the final rank on
    (true_sqdist, vec_id), both rounded to 6 dp on both engines.
    """
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True).select(
        "vec_id", _as_double(F.col("embedding")).alias("e")
    )
    return pq_topk(emb, rerank_pool=PQ_RERANK_POOL, share_key=f"pq:{sf_dir}")


def _pq_rerank_sql() -> str:
    """Pool by ADC, re-rank the pool by exact distance."""
    tsq = (
        "ROUND(list_sum(list_transform(generate_series(1, len(v.e)),"
        " i -> (v.e[i] - q.qe[i]) * (v.e[i] - q.qe[i]))), 6)"
    )
    base = _pq_sql()
    # reuse the full ADC SQL up to (and including) the ranked CTE, then
    # swap the final top-k for the pooled exact re-rank. The splice is
    # anchored on an explicit marker in _pq_sql (round-9 ADVICE: the
    # old rstrip(')') stripped ALL trailing parens, so a reformat
    # nesting a ')' before the final SELECT would silently corrupt
    # the oracle) — head ends exactly at the ranked CTE's close.
    marker = "\n-- RERANK-SPLICE\n"
    assert base.count(marker) == 1, "unexpected _pq_sql shape"
    head, _, _tail = base.partition(marker)
    head = head.rstrip()
    assert head.endswith(")") and "ranked AS (" in head, head[-80:]
    return f"""{head},
pool AS (
  SELECT r.query_id, r.vec_id, r.adc_dist, {tsq} AS true_sqdist
  FROM ranked r
  JOIN e v ON v.vec_id = r.vec_id
  JOIN q ON q.query_id = r.query_id
  WHERE r.rank <= {PQ_RERANK_POOL}
),
rer AS (
  SELECT query_id, vec_id, true_sqdist, adc_dist,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY true_sqdist ASC, vec_id ASC) AS rank
  FROM pool
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id, true_sqdist, adc_dist
FROM rer WHERE rank <= {PQ_TOPK}
ORDER BY query_id, rank
"""


def _pq_sql() -> str:
    """ADC top-k over the per-subspace chains."""
    qsq = (
        "ROUND(list_sum(list_transform(generate_series(1, len(q.qs)),"
        " i -> (q.qs[i] - c.ce[i]) * (q.qs[i] - c.ce[i]))), 6)"
    )
    tsq = (
        "ROUND(list_sum(list_transform(generate_series(1, len(v.e)),"
        " i -> (v.e[i] - q.qe[i]) * (v.e[i] - q.qe[i]))), 6)"
    )
    codes_union = " UNION ALL ".join(
        f"SELECT vec_id, {m} AS sub, code FROM enc{m}" for m in range(PQ_M)
    )
    dt_union = " UNION ALL ".join(
        f"""SELECT q.query_id, {m} AS sub, c.cell_id AS code, {qsq} AS d
FROM (SELECT query_id, qe[{m * PQ_SUBDIM + 1}:{(m + 1) * PQ_SUBDIM}] AS qs
      FROM q) q CROSS JOIN cm{m}_{PQ_ITERS} c"""
        for m in range(PQ_M)
    )
    return f"""
{_pq_cte_prefix()},
q AS (
  SELECT vec_id AS query_id, e AS qe FROM e ORDER BY vec_id
  LIMIT {PQ_QUERIES}
),
codes AS ({codes_union}),
dt AS ({dt_union}),
adc AS (
  SELECT dt.query_id, codes.vec_id,
    CAST(SUM(CAST(dt.d AS DECIMAL(25,6))) AS DOUBLE) AS adc_dist
  FROM codes JOIN dt ON codes.sub = dt.sub AND codes.code = dt.code
  GROUP BY dt.query_id, codes.vec_id
),
ranked AS (
  SELECT query_id, vec_id, adc_dist,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY adc_dist ASC, vec_id ASC) AS rank
  FROM adc WHERE vec_id <> query_id
)
-- RERANK-SPLICE
SELECT r.query_id, CAST(r.rank AS INT) AS rank, r.vec_id, r.adc_dist,
  {tsq} AS true_sqdist
FROM ranked r
JOIN e v ON v.vec_id = r.vec_id
JOIN q ON q.query_id = r.query_id
WHERE r.rank <= {PQ_TOPK}
ORDER BY r.query_id, r.rank
"""


QUERIES = {
    "knn_bruteforce_cosine": knn_bruteforce_cosine,
    "ann_lsh_cosine": ann_lsh_cosine,
    "ann_ivf_cosine": ann_ivf_cosine,
    "embedding_stats": embedding_stats,
    "embedding_dim_profile": embedding_dim_profile,
    "embedding_cosine_dedup": embedding_cosine_dedup,
    "kmeans_ivf_codebook": kmeans_ivf_codebook,
    "dedup_semantic_semdedup": dedup_semantic_semdedup,
    "ann_pq_adc": ann_pq_adc,
    "ann_pq_rerank": ann_pq_rerank,
}

ORACLE = {
    "knn_bruteforce_cosine": _knn_sql(),
    "ann_lsh_cosine": _ann_sql(),
    "ann_ivf_cosine": _ivf_sql(),
    "embedding_stats": _emb_stats_sql(),
    "embedding_dim_profile": _DIM_PROFILE_SQL,
    "embedding_cosine_dedup": _emb_dedup_sql(),
    "kmeans_ivf_codebook": _kmeans_sql(),
    "dedup_semantic_semdedup": _semdedup_sql(),
    "ann_pq_adc": _pq_sql(),
    "ann_pq_rerank": _pq_rerank_sql(),
}


# --- IVF-PQ (IVFADC) — round 10 ------------------------------------------

IVFPQ_CELLS = 8  #: coarse inverted-file cells (deterministic codebook)
IVFPQ_NPROBE = 2  #: cells probed per query


def ann_ivfpq(
    spark: SparkSession, sf_dir: str, rerank_pool: int | None = None
) -> DataFrame:
    """IVF-PQ / IVFADC (Jégou et al. TPAMI 2011 §VI — the faiss
    `IVFx,PQy` production standard): the two approximations composed —
    a coarse inverted file restricts each query's scan to
    IVFPQ_NPROBE cells, and product quantization of the RESIDUAL
    (vector minus its coarse centroid) compresses what that scan
    reads to PQ_M one-byte codes. Residual encoding is the part that
    makes the composition non-trivial: one PQ codebook family is
    trained on residuals across all cells, and each query builds a
    SEPARATE distance table per probed cell (its residual differs per
    cell).

    100 TB shape: coarse assignment and residual computation are
    row-local broadcast math (zero shuffle); PQ training touches each
    residual subspace once; the ADC scan reads codes of probed-cell
    vectors only — cells cut the candidate set, codes cut the bytes
    per candidate, and raw vectors are read only to decorate the
    winners with true distance.

    EXACT oracle: coarse argmin and table entries rounded to 6 dp
    with cell/code tiebreaks, ADC summed as DECIMAL(25,6), rank ties
    on vec_id; the DuckDB twin reuses the unrolled-Lloyd PQ prefix
    SOURCED FROM the residual CTE (`_pq_cte_prefix("er")`), so coarse
    cells, residuals, codebooks, codes, and rankings are
    bit-identical.
    """
    from functools import reduce

    from etl_gcp_function_tmabrasil_spark.operators.kmeans import (
        kmeans_assign,
        kmeans_fit,
    )

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True).select(
        "vec_id", _as_double(F.col("embedding")).alias("e")
    )
    coarse = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < IVFPQ_CELLS
    ).select(
        F.col("vec_id").alias("cell_id"),
        _as_double(F.col("embedding")).alias("ce"),
    )
    centarr = centroid_array(coarse, "cell_id", "ce")

    def sqm(vec: str) -> str:
        return (
            f"round(aggregate(zip_with({vec}, c.ce, (x, y) ->"
            " (x - y) * (x - y)), cast(0.0 as double),"
            " (s, v) -> s + v), 6)"
        )

    assigned = emb.crossJoin(centarr).select(
        "vec_id", "e", argmin_cell(sqm("e"))["cell_id"].alias("cell_id")
    )
    # resid feeds 4 subspaces x (Lloyd iterations + encode) EAGER scans
    # plus the ADC cell join — without materialization each one would
    # recompute the coarse argmin over the whole corpus
    from etl_gcp_function_tmabrasil_spark.queries._util import (
        managed_persist,
    )

    resid = managed_persist(
        assigned.join(F.broadcast(coarse), "cell_id").select(
            "vec_id",
            "cell_id",
            F.expr("zip_with(e, ce, (x, y) -> x - y)").alias("e"),
        ),
        "similarity.ivfpq_resid",
    )
    code_frames, cent_frames = [], []
    for m in range(PQ_M):
        sub = resid.select(
            "vec_id", F.slice("e", m * PQ_SUBDIM + 1, PQ_SUBDIM).alias("e")
        )
        # TRAIN on rows that are not coarse exemplars: vec_id <
        # IVFPQ_CELLS have residual EXACTLY zero (they are their own
        # cell centroid), so the k-lowest-vec_id init would start all
        # PQ_K centroids at the zero vector, the lowest-cell tiebreak
        # would sweep every row into cell 1, and the codebook would
        # collapse to ONE code — constant ADC distance, the measured
        # recall-0.0 (r11 verdict). Encoding still covers every row.
        cent, _ = kmeans_fit(
            sub.filter(F.col("vec_id") >= IVFPQ_CELLS),
            k=PQ_K,
            iters=PQ_ITERS,
            share_key=f"ivfpq:{sf_dir}:sub{m}",
        )
        code_frames.append(
            kmeans_assign(sub, cent).select(
                "vec_id", F.lit(m).alias("sub"), F.col("cell_id").alias("code")
            )
        )
        cent_frames.append(
            cent.select(
                F.lit(m).alias("sub"),
                F.col("cell_id").alias("code"),
                F.col("ce").alias("pqce"),
            )
        )
    codes = reduce(DataFrame.unionByName, code_frames)
    pqcents = reduce(DataFrame.unionByName, cent_frames)

    q = (
        emb.orderBy("vec_id")
        .limit(PQ_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("e").alias("qe"))
    )
    qprobe = (
        q.crossJoin(centarr)
        .select(
            "query_id",
            "qe",
            F.explode(top_cells(sqm("qe"), IVFPQ_NPROBE)).alias("pc"),
        )
        .select("query_id", "qe", F.col("pc.cell_id").alias("cell_id"))
    )
    qres = qprobe.join(F.broadcast(coarse), "cell_id").select(
        "query_id",
        "cell_id",
        F.expr("zip_with(qe, ce, (x, y) -> x - y)").alias("qr"),
    )
    q_sub = qres.select(
        "query_id",
        "cell_id",
        F.posexplode(
            F.array(
                *[
                    F.slice("qr", m * PQ_SUBDIM + 1, PQ_SUBDIM)
                    for m in range(PQ_M)
                ]
            )
        ).alias("sub", "qs"),
    )
    sqd = (
        "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
        " cast(0.0 as double), (s, v) -> s + v)"
    )
    dtable = q_sub.join(F.broadcast(pqcents), "sub").select(
        "query_id",
        "cell_id",
        "sub",
        "code",
        F.round(F.expr(sqd.format(a="qs", b="pqce")), 6).alias("d"),
    )
    adc = (
        codes.join(resid.select("vec_id", "cell_id"), "vec_id")
        .join(F.broadcast(dtable), ["cell_id", "sub", "code"])
        .groupBy("query_id", "vec_id")
        .agg(
            F.sum(F.col("d").cast("decimal(25,6)"))
            .cast("double")
            .alias("adc_dist")
        )
    )
    pool = rerank_pool if rerank_pool is not None else PQ_TOPK
    ranked = (
        adc.filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "rank",
            F.row_number().over(
                W.partitionBy("query_id").orderBy("adc_dist", "vec_id")
            ),
        )
        .filter(F.col("rank") <= pool)
    )
    decorated = (
        ranked.join(emb, "vec_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "rank",
            "vec_id",
            "adc_dist",
            F.round(F.expr(sqd.format(a="e", b="qe")), 6).alias(
                "true_sqdist"
            ),
        )
    )
    if rerank_pool is None:
        return decorated.orderBy("query_id", "rank")
    rer = decorated.withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy("query_id").orderBy("true_sqdist", "vec_id")
        ),
    ).filter(F.col("rank") <= PQ_TOPK)
    return rer.select(
        "query_id", "rank", "vec_id", "true_sqdist", "adc_dist"
    ).orderBy("query_id", "rank")


IVFPQ_RERANK_POOL = 25  #: ADC pool per query for the exact re-rank


def ann_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC-R (Jégou et al. §V "re-ranking with source coding", as
    composed with the inverted file in faiss's `IVFx,PQy` + refine):
    the IVF-PQ candidate generator keeps its top-IVFPQ_RERANK_POOL by
    ADC distance, then an EXACT re-rank of just those candidates
    orders the emitted top-PQ_TOPK by true squared L2. This is the
    production configuration: ADC-only ordering cannot separate
    near-ties (all cluster mates of a planted-duplicate corpus share
    codes; tests/test_r12_operators.py pins re-rank recall@5 at or
    above the ADC-only ranking's and at least 0.8), while the re-rank
    touches raw vectors for only pool-size rows per query.

    Scale: identical to ann_ivfpq (cells cut candidates, codes cut
    bytes) plus one bounded pool x raw-vector join per query — the
    re-rank cost is O(queries x pool), independent of corpus size.

    EXACT oracle: same generated CTE chain as ann_ivfpq with the pool
    rank on (adc_dist, vec_id) and the final rank on (true_sqdist,
    vec_id), both 6-dp rounded on both engines.
    """
    return ann_ivfpq(spark, sf_dir, rerank_pool=IVFPQ_RERANK_POOL)


def _ivfpq_sql(rerank: bool = False) -> str:
    """Coarse assignment + residual CTE, then the shared unrolled-Lloyd
    PQ body sourced from the residuals, then probe-restricted ADC;
    ``rerank=True`` keeps an IVFPQ_RERANK_POOL ADC pool and re-ranks
    it by exact squared L2 (IVFADC-R)."""
    sqr = (
        "ROUND(list_sum(list_transform(generate_series(1, len(v.e)),"
        " i -> (v.e[i] - c.ce[i]) * (v.e[i] - c.ce[i]))), 6)"
    )
    sqr_q = (
        "ROUND(list_sum(list_transform(generate_series(1, len(q.qe)),"
        " i -> (q.qe[i] - c.ce[i]) * (q.qe[i] - c.ce[i]))), 6)"
    )
    tsq = (
        "ROUND(list_sum(list_transform(generate_series(1, len(v.e)),"
        " i -> (v.e[i] - q.qe[i]) * (v.e[i] - q.qe[i]))), 6)"
    )
    pq_body = _pq_cte_prefix("er", train_where=f"vec_id >= {IVFPQ_CELLS}")
    # strip the prefix's own WITH header (e over raw embeddings) — the
    # IVF-PQ CTE chain defines e/cc/asg/er first, then the body
    marker = " FROM embeddings),"
    head, sep, body = pq_body.partition(marker)
    assert sep, "unexpected _pq_cte_prefix shape"
    dt_parts = []
    for m in range(PQ_M):
        lo, hi = m * PQ_SUBDIM + 1, (m + 1) * PQ_SUBDIM
        dt_parts.append(f"""
SELECT s.query_id, s.cell_id, {m} AS sub, c.cell_id AS code,
  ROUND(list_sum(list_transform(generate_series(1, {PQ_SUBDIM}),
    i -> (s.qs[i] - c.ce[i]) * (s.qs[i] - c.ce[i]))), 6) AS d
FROM (SELECT query_id, cell_id, qr[{lo}:{hi}] AS qs FROM qrs) s
CROSS JOIN cm{m}_{PQ_ITERS} c""")
    codes_union = " UNION ALL ".join(
        f"SELECT vec_id, {m} AS sub, code FROM enc{m}" for m in range(PQ_M)
    )
    if rerank:
        rerank_ctes = f""",
pool AS (
  SELECT r.query_id, r.vec_id, r.adc_dist, {tsq} AS true_sqdist
  FROM ranked r
  JOIN e v ON v.vec_id = r.vec_id
  JOIN q ON q.query_id = r.query_id
  WHERE r.rank <= {IVFPQ_RERANK_POOL}
),
rer AS (
  SELECT query_id, vec_id, true_sqdist, adc_dist,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY true_sqdist ASC, vec_id ASC) AS rank
  FROM pool
)"""
        final_select = f"""SELECT query_id, CAST(rank AS INT) AS rank, vec_id,
  true_sqdist, adc_dist
FROM rer WHERE rank <= {PQ_TOPK}
ORDER BY query_id, rank"""
    else:
        rerank_ctes = ""
        final_select = f"""SELECT r.query_id, CAST(r.rank AS INT) AS rank, r.vec_id, r.adc_dist,
  {tsq} AS true_sqdist
FROM ranked r
JOIN e v ON v.vec_id = r.vec_id
JOIN q ON q.query_id = r.query_id
WHERE r.rank <= {PQ_TOPK}
ORDER BY r.query_id, r.rank"""
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
cc AS (SELECT vec_id AS cell_id, e AS ce FROM e
       WHERE vec_id < {IVFPQ_CELLS}),
asg AS (
  SELECT vec_id, e, cell_id FROM (
    SELECT v.vec_id, v.e, c.cell_id,
      ROW_NUMBER() OVER (PARTITION BY v.vec_id
                         ORDER BY {sqr} ASC, c.cell_id ASC) AS rn
    FROM e v CROSS JOIN cc c
  ) t WHERE rn = 1),
er AS (
  SELECT a.vec_id,
    list_transform(generate_series(1, len(a.e)),
                   i -> a.e[i] - c.ce[i]) AS e
  FROM asg a JOIN cc c USING (cell_id)),{body},
q AS (
  SELECT vec_id AS query_id, e AS qe FROM e ORDER BY vec_id
  LIMIT {PQ_QUERIES}
),
qp AS (
  SELECT query_id, qe, cell_id FROM (
    SELECT q.query_id, q.qe, c.cell_id,
      ROW_NUMBER() OVER (PARTITION BY q.query_id
                         ORDER BY {sqr_q} ASC, c.cell_id ASC) AS rn
    FROM q CROSS JOIN cc c
  ) t WHERE rn <= {IVFPQ_NPROBE}),
qrs AS (
  SELECT query_id, qp.cell_id AS cell_id,
    list_transform(generate_series(1, len(qe)),
                   i -> qe[i] - c.ce[i]) AS qr
  FROM qp JOIN cc c ON c.cell_id = qp.cell_id),
dt AS ({" UNION ALL ".join(dt_parts)}),
codes AS ({codes_union}),
adc AS (
  SELECT dt.query_id, codes.vec_id,
    CAST(SUM(CAST(dt.d AS DECIMAL(25,6))) AS DOUBLE) AS adc_dist
  FROM codes
  JOIN asg ON asg.vec_id = codes.vec_id
  JOIN dt ON dt.cell_id = asg.cell_id
         AND dt.sub = codes.sub AND dt.code = codes.code
  GROUP BY dt.query_id, codes.vec_id
),
ranked AS (
  SELECT query_id, vec_id, adc_dist,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY adc_dist ASC, vec_id ASC) AS rank
  FROM adc WHERE vec_id <> query_id
){rerank_ctes}
{final_select}
"""


QUERIES["ann_ivfpq"] = ann_ivfpq
ORACLE["ann_ivfpq"] = _ivfpq_sql()
QUERIES["ann_ivfpq_rerank"] = ann_ivfpq_rerank
ORACLE["ann_ivfpq_rerank"] = _ivfpq_sql(rerank=True)


# --- MMR diversified re-rank (round 11) -------------------------------------

MMR_POOL = 12  #: relevance pool per query the greedy pass re-ranks
MMR_K = 4  #: results returned per query
#: trade-off weight — 0.7·relevance − 0.3·max-similarity-to-selected,
#: held as exact decimals so the greedy argmax is engine-identical
_MMR_LAM = "CAST(0.7 AS DECIMAL(2,1))"
_MMR_MU = "CAST(0.3 AS DECIMAL(2,1))"


def knn_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-rank (Carbonell & Goldstein, SIGIR
    1998) — the diversified-retrieval stage of a RAG pipeline: from
    each query's top-MMR_POOL cosine pool, greedily select MMR_K
    results maximizing lam*relevance - (1-lam)*max_sim_to_already_
    selected, so near-duplicate passages don't crowd the context
    window. The greedy recurrence is UNROLLED MMR_K times as plain
    joins/argmax windows (k is a product constant, not data): every
    step is distributed, and the oracle unrolls the identical steps.

    Determinism without floats: relevance and pairwise cosines are
    4-dp DECIMALS and the MMR score stays in the decimal domain
    (0.7/0.3 are exact DECIMAL(2,1)), so the per-step argmax ordering
    (score DESC, vec_id ASC) is bit-identical across engines.

    Scale: the pool pass is the brute-force kNN shape (at production
    scale swap in IVF/PQ candidates — same re-rank); pairwise sims are
    POOL² per query (a constant), computed once and reused by every
    unrolled step via one persisted frame.
    """
    from etl_gcp_function_tmabrasil_spark.queries._util import (
        managed_persist,
    )

    emb = _with_norm(
        load_table(spark, sf_dir, "embeddings", rebalance=True), "vec_id"
    )
    q = _with_norm(
        load_table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") < N_QUERIES
        ),
        "vec_id",
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    rel = F.round(
        _dot(F.col("qe"), F.col("e")) / (F.col("qnrm") * F.col("nrm")), 4
    ).cast("decimal(8,4)")
    wpool = W.partitionBy("query_id").orderBy(
        F.desc("rel"), F.asc("vec_id")
    )
    pool = managed_persist(
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", rel.alias("rel"), "e", "nrm")
        .withColumn("prn", F.row_number().over(wpool))
        .filter(F.col("prn") <= MMR_POOL)
        .drop("prn"),
        "similarity.mmr_pool",
    )
    a = pool.select(
        "query_id",
        F.col("vec_id").alias("va"),
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = pool.select(
        F.col("query_id").alias("qb"),
        F.col("vec_id").alias("vb"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    pairs = a.join(
        b,
        (F.col("query_id") == F.col("qb"))
        & (F.col("va") != F.col("vb")),
    ).select(
        "query_id",
        "va",
        "vb",
        F.round(
            _dot(F.col("ea"), F.col("eb"))
            / (F.col("na") * F.col("nb")),
            4,
        )
        .cast("decimal(8,4)")
        .alias("sim"),
    )
    # Row-local greedy fold (r15): the previous unrolled join/window
    # formulation re-derived every prior step inside each later step's
    # lineage — 441 Exchange nodes for MMR_K=4 over frames of at most
    # POOL² rows per query (measured 5.8 s of pure stage scheduling at
    # sf0.1). The pool and its pairwise sims are BOUNDED per query
    # (MMR_POOL / MMR_POOL² product constants), so the greedy argmax
    # recurrence collapses to one aggregate() fold over a single row
    # per query: two bounded rollups + one join + one explode, zero
    # per-step shuffles. The decimal arithmetic (0.7·rel − 0.3·msim as
    # exact DECIMALs, argmax ordered score DESC / vec_id ASC) is the
    # SAME expression text the unrolled form and the oracle use, so
    # every selected id and score is bit-identical.
    poolarr = pool.groupBy("query_id").agg(
        F.collect_list(F.struct("vec_id", "rel")).alias("cands")
    )
    pairsarr = pairs.groupBy("query_id").agg(
        F.collect_list(F.struct("va", "vb", "sim")).alias("sims")
    )
    lam, mu = _MMR_LAM, _MMR_MU
    best_t = "STRUCT<vec_id: BIGINT, rel: DECIMAL(8,4), score: DECIMAL(14,5)>"

    def argmax(scored: str) -> str:
        """Greedy per-step winner: max score, ties to the lower vec_id
        — the same total order as the window/oracle formulation."""
        return (
            f"aggregate({scored}, CAST(NULL AS {best_t}), (b, c) -> "
            "CASE WHEN b IS NULL OR c.score > b.score "
            "OR (c.score = b.score AND c.vec_id < b.vec_id) "
            "THEN c ELSE b END)"
        )

    scored1 = (
        "transform(cands, c -> named_struct("
        "'vec_id', c.vec_id, 'rel', c.rel, "
        f"'score', CAST({lam} * c.rel AS DECIMAL(14,5))))"
    )
    # candidates not yet selected, scored lam*rel - mu*max_sim_to_
    # selected; a candidate with no pair row to any selected id scores
    # NULL and is filtered — the inner-join semantics of the unrolled
    # form
    scored_i = (
        "filter(transform("
        "filter(cands, c0 -> NOT array_contains("
        "transform(acc, s0 -> s0.vec_id), c0.vec_id)), "
        "c -> named_struct('vec_id', c.vec_id, 'rel', c.rel, "
        f"'score', CAST({lam} * c.rel - {mu} * "
        "array_max(transform(filter(sims, p -> p.va = c.vec_id "
        "AND array_contains(transform(acc, s1 -> s1.vec_id), p.vb)), "
        "p2 -> p2.sim)) AS DECIMAL(14,5)))), "
        "sc -> sc.score IS NOT NULL)"
    )
    init = (
        f"transform(filter(array({argmax(scored1)}), w -> w IS NOT NULL), "
        "w -> named_struct('vec_id', w.vec_id, 'rel', w.rel, "
        "'score', w.score, 'step', CAST(1 AS INT)))"
    )
    selected = (
        f"aggregate(sequence(2, {MMR_K}), {init}, (acc, i) -> "
        f"concat(acc, transform(filter(array({argmax(scored_i)}), "
        "w -> w IS NOT NULL), "
        "w -> named_struct('vec_id', w.vec_id, 'rel', w.rel, "
        "'score', w.score, 'step', CAST(i AS INT)))))"
    )
    folded = poolarr.join(pairsarr, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("sims"), F.expr("array()")).alias("sims"),
        "cands",
    ).select("query_id", F.expr(selected).alias("sel"))
    return (
        folded.select("query_id", F.explode("sel").alias("s"))
        .select(
            "query_id",
            F.col("s.step").alias("step"),
            F.col("s.vec_id").alias("selected_id"),
            F.col("s.rel").cast("double").alias("rel_cosine"),
            F.col("s.score").cast("double").alias("mmr_score"),
        )
        .orderBy("query_id", "step")
    )


def _mmr_sql() -> str:
    dot = _SQL_DOT.format(a="q.e", b="c.e")
    na = _SQL_NORM.format(a="q.e")
    nb = _SQL_NORM.format(a="c.e")
    pdot = _SQL_DOT.format(a="p1.e", b="p2.e")
    pna = _SQL_NORM.format(a="p1.e")
    pnb = _SQL_NORM.format(a="p2.e")
    steps = [
        f"""sel1 AS (
  SELECT query_id, vec_id, rel, {_MMR_LAM} * rel AS score, 1 AS step
  FROM (SELECT query_id, vec_id, rel,
          ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY {_MMR_LAM} * rel DESC, vec_id ASC)
            AS rn
        FROM pool) t WHERE rn = 1)"""
    ]
    for i in range(2, MMR_K + 1):
        prev = " UNION ALL ".join(
            f"SELECT query_id, vec_id, rel, score, step FROM sel{j}"
            for j in range(1, i)
        )
        steps.append(
            f"""prev{i} AS ({prev}),
cand{i} AS (
  SELECT p.query_id, p.vec_id, p.rel FROM pool p
  WHERE NOT EXISTS (SELECT 1 FROM prev{i} s
                    WHERE s.query_id = p.query_id
                      AND s.vec_id = p.vec_id)),
msim{i} AS (
  SELECT pr.query_id, pr.va AS vec_id, MAX(pr.sim) AS msim
  FROM pairs pr JOIN prev{i} s
    ON pr.query_id = s.query_id AND pr.vb = s.vec_id
  GROUP BY 1, 2),
sel{i} AS (
  SELECT query_id, vec_id, rel, score, {i} AS step
  FROM (SELECT c.query_id, c.vec_id, c.rel,
          {_MMR_LAM} * c.rel - {_MMR_MU} * m.msim AS score,
          ROW_NUMBER() OVER (PARTITION BY c.query_id
            ORDER BY {_MMR_LAM} * c.rel - {_MMR_MU} * m.msim DESC,
                     c.vec_id ASC) AS rn
        FROM cand{i} c JOIN msim{i} m
          ON c.query_id = m.query_id AND c.vec_id = m.vec_id) t
  WHERE rn = 1)"""
        )
    final = " UNION ALL ".join(
        f"SELECT query_id, vec_id, rel, score, step FROM sel{j}"
        for j in range(1, MMR_K + 1)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id AS query_id, e FROM e WHERE vec_id < {N_QUERIES}),
pool AS (
  SELECT query_id, vec_id, rel, e FROM (
    SELECT q.query_id, c.vec_id,
      CAST(ROUND({dot} / ({na} * {nb}), 4) AS DECIMAL(8,4)) AS rel,
      c.e,
      ROW_NUMBER() OVER (PARTITION BY q.query_id
        ORDER BY CAST(ROUND({dot} / ({na} * {nb}), 4) AS DECIMAL(8,4))
                   DESC,
                 c.vec_id ASC) AS prn
    FROM e c CROSS JOIN q WHERE c.vec_id <> q.query_id) t
  WHERE prn <= {MMR_POOL}),
pairs AS (
  SELECT p1.query_id, p1.vec_id AS va, p2.vec_id AS vb,
    CAST(ROUND({pdot} / ({pna} * {pnb}), 4) AS DECIMAL(8,4)) AS sim
  FROM pool p1 JOIN pool p2
    ON p1.query_id = p2.query_id AND p1.vec_id <> p2.vec_id),
{", ".join(steps)}
SELECT query_id, step, vec_id AS selected_id,
  CAST(rel AS DOUBLE) AS rel_cosine, CAST(score AS DOUBLE) AS mmr_score
FROM ({final}) f ORDER BY query_id, step
"""


QUERIES["knn_mmr_rerank"] = knn_mmr_rerank
ORACLE["knn_mmr_rerank"] = _mmr_sql()


# --- Multi-band sign-LSH kNN (round 12) --------------------------------------

MB_BANDS = 4  #: OR-composed hash tables
MB_BITS = 8  #: sign bits per band (bucket fan-out 2^8 per table)


def _mb_hyperplanes() -> list[list[float]]:
    """MB_BANDS x MB_BITS deterministic hyperplanes (seed 43, 6-dp
    rounded so the literals embed exactly in both engines) — separate
    from the single-table 12-plane set so the two LSH queries stay
    independently reproducible."""
    rng = np.random.RandomState(43)
    return [
        [round(float(v), 6) for v in row]
        for row in rng.randn(MB_BANDS * MB_BITS, DIM)
    ]


def _mb_bands(emb: DataFrame) -> DataFrame:
    """(vec_id, e, nrm) -> (vec_id, e, nrm, band, bkt): MB_BANDS
    8-bit sign buckets per row, exploded one row per band. Row-local:
    32 dot products against broadcast literal planes, zero shuffle.

    The whole bucket expression is composed as ONE SQL string and
    parsed JVM-side: the original Column-API form built 32 planes x
    64 dims of F.lit() — ~2048 Py4J round trips, measured 10-40 s of
    DRIVER-side construction per invocation (r13: it tripped bench's
    eager-construction guard, which cannot tell Py4J width from eager
    engine work). One F.expr parse is <0.5 s and bit-identical — the
    fold order, 6-dp rounding, and literal values are unchanged (the
    oracle compares exactly)."""
    planes = _mb_hyperplanes()
    bands_sql = []
    for j in range(MB_BANDS):
        bits = []
        for i in range(MB_BITS):
            p = planes[j * MB_BITS + i]
            lit = (
                "cast(array("
                + ", ".join(str(v) for v in p)
                + ") as array<double>)"
            )
            dot = (
                f"aggregate(zip_with(e, {lit}, (x, y) -> x * y), "
                "cast(0.0 as double), (s, x) -> s + x)"
            )
            bits.append(
                f"(CASE WHEN round({dot}, 6) > 0 THEN {2**i} ELSE 0 END)"
            )
        bands_sql.append(
            f"named_struct('band', {j}, 'bkt', " + " + ".join(bits) + ")"
        )
    arr = "array(" + ", ".join(bands_sql) + ")"
    return emb.select(
        "vec_id", "e", "nrm", F.explode(F.expr(arr)).alias("bb")
    ).select("vec_id", "e", "nrm", "bb.band", "bb.bkt")


def ann_lsh_multiband(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table sign-LSH kNN (Indyk-Motwani banding, the OR
    construction): MB_BANDS independent 8-bit hash tables; a candidate
    pair is any two vectors sharing ANY band's bucket, ranked by exact
    cosine. This is the collision-probability fix for the single-table
    12-bit query (`ann_lsh_cosine`): per-plane agreement p = 1 - θ/π
    gives per-band collision p^8 >> p^12, OR'd over 4 tables → at the
    ~60° angles of this corpus's nearest neighbors ~12x the
    single-table candidate recall, and near-certain collision in the
    near-duplicate regime (recall@5 1.0 on the planted-cluster corpus,
    ``tests/test_ann_recall.py::test_ann_recall_against_exact_answer``).

    Scale: bucketing is 32 row-local dot products; each band's
    self-join is an equi-join on (band, bkt) whose bucket sizes shrink
    geometrically in MB_BITS — at production, bits-per-band grows with
    log(N) to hold bucket sizes constant, and bands trade recall for
    candidate volume (the s-curve knobs, same as the MinHash dedup).
    The OR is a union + per-pair distinct, never a cross join.

    EXACT oracle: identical plane literals, 6-dp bit rounding, 4-dp
    cosines, (cosine DESC, neighbor ASC) rank ties.
    """
    emb = _with_norm(
        load_table(spark, sf_dir, "embeddings", rebalance=True), "vec_id"
    )
    from etl_gcp_function_tmabrasil_spark.queries._util import managed_persist

    # persist the banded frame (r15): 32 interpreted 64-dim dot
    # products per row feed BOTH sides of the band self-join — the
    # unpersisted plan computed the banding twice (8 embedding scans,
    # zero ReusedExchange); cached it computes once and the self-join
    # reads the (row × band)-sized table (guide §5: reused AND
    # expensive to recompute)
    b = managed_persist(
        _mb_bands(emb).select("vec_id", "band", "bkt"),
        "similarity.mb_bands",
    )
    x, y = b.alias("x"), b.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bkt") == F.col("y.bkt"))
            & (F.col("x.vec_id") != F.col("y.vec_id")),
        )
        .groupBy(
            F.col("x.vec_id").alias("query_id"),
            F.col("y.vec_id").alias("neighbor_id"),
        )
        .agg(F.count(F.lit(1)).alias("shared_bands"))
    )
    e1 = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    e2 = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("ne"),
        F.col("nrm").alias("nn"),
    )
    cos = _dot(F.col("qe"), F.col("ne")) / (F.col("qn") * F.col("nn"))
    scored = (
        cand.join(e1, "query_id")
        .join(e2, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            "shared_bands",
            F.round(cos, 4).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", "neighbor_id", "shared_bands", "cosine")
        .orderBy("query_id")
    )


def _mb_sql() -> str:
    planes = _mb_hyperplanes()
    band_rows = []
    for j in range(MB_BANDS):
        bits = []
        for i in range(MB_BITS):
            lit = (
                "(["
                + ", ".join(str(v) for v in planes[j * MB_BITS + i])
                + "]::DOUBLE[])"
            )
            dot = _SQL_DOT.format(a="e", b=lit)
            bits.append(
                f"(CASE WHEN ROUND({dot}, 6) > 0 THEN {2**i} ELSE 0 END)"
            )
        band_rows.append(
            f"SELECT vec_id, e, {j} AS band, "
            + " + ".join(bits)
            + " AS bkt FROM e"
        )
    bands_union = " UNION ALL ".join(band_rows)
    cos = "{dot} / ({nx} * {ny})".format(
        dot=_SQL_DOT.format(a="q.e", b="n.e"),
        nx=_SQL_NORM.format(a="q.e"),
        ny=_SQL_NORM.format(a="n.e"),
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
b AS ({bands_union}),
cand AS (
  SELECT x.vec_id AS query_id, y.vec_id AS neighbor_id,
    COUNT(*) AS shared_bands
  FROM b x JOIN b y
    ON x.band = y.band AND x.bkt = y.bkt AND x.vec_id <> y.vec_id
  GROUP BY 1, 2
),
scored AS (
  SELECT c.query_id, c.neighbor_id, c.shared_bands,
    ROUND({cos}, 4) AS cosine
  FROM cand c
  JOIN e q ON q.vec_id = c.query_id
  JOIN e n ON n.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, shared_bands, cosine FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rn
  FROM scored
) t WHERE rn = 1
ORDER BY query_id
"""


QUERIES["ann_lsh_multiband"] = ann_lsh_multiband
ORACLE["ann_lsh_multiband"] = _mb_sql()


# --- Exact radius (range) similarity search with cell pruning (round 13) -----

RADIUS_COS = 0.35  #: report every neighbor with cosine >= this.
#: Profiled on the actual corpus before gating (the gopher-rules
#: lesson): the sf tables' embeddings are iid — max query cosine is
#: ~0.4-0.5 and there are ZERO pairs at the 0.95 near-dup band, so a
#: production-style 0.95 radius returns empty at every sf. 0.35
#: yields 6 (sf0.001) / 9 (sf0.01) true neighbors; on an iid corpus
#: the ball nearly spans the sphere so the cell prune rarely fires
#: (honest floor, same contract as the ANN recall docs) — on
#: clustered corpora the same plan prunes to the ball-overlap
#: fraction.
_RADIUS_SLACK = 1e-5  #: conservative margin absorbing the 6-dp rounding
#: of distances on both engines — may only ADD cells, never drop one
_RADIUS_COS_ROUND = 0.5e-4  #: the reported cosine is ROUND(·, 4), so the
#: final filter admits true cosines down to RADIUS_COS - 0.5e-4; the
#: prune ball must be sized from THAT threshold, not the nominal one —
#: otherwise a cell whose only in-ball member sits at true cosine
#: ~0.34995 (distance up to ball_r + ~4.4e-5) can be pruned while the
#: brute-force oracle keeps the row (r13 ADVICE, medium).


def _radius_parts(spark: SparkSession, sf_dir: str) -> dict:
    """Shared builder for the radius search: returns {assigned, radii,
    probes}, so a test can count the surviving (query, cell) pairs of
    the EXACT plan the operator runs
    (``tests/test_r13_operators.py::test_radius_search_equals_bruteforce``).

    Construction width note (r14): every vector expression here is ONE
    ``selectExpr``/``F.expr`` SQL string, never a PySpark Column lambda
    — the ``F.zip_with``/``F.aggregate`` lambda builders cost dozens of
    Py4J round trips EACH (profiled: 1,536 round trips / ~1.7 s of
    construction for the lambda-built version, which put the query over
    bench.py's eager-construction strike floor on a loaded session;
    the same plan from SQL text parses in one JVM call per select —
    the ann_lsh_multiband lesson applied to this family)."""
    _cast = "transform(embedding, x -> cast(x as double))"
    emb = (
        load_table(spark, sf_dir, "embeddings", rebalance=True)
        .selectExpr("vec_id", f"{_cast} as e")
        .selectExpr(
            "vec_id",
            "e",
            "sqrt(aggregate(e, cast(0.0 as double),"
            " (s, x) -> s + x * x)) as nrm",
        )
    )
    cent = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < N_CELLS)
        .selectExpr("vec_id as cell_id", f"{_cast} as ce")
        .selectExpr(
            "cell_id",
            "ce",
            "sqrt(aggregate(ce, cast(0.0 as double),"
            " (s, x) -> s + x * x)) as cnrm",
        )
    )

    def neg_cos(row_vec: str, row_nrm: str) -> str:
        return (
            f"-round(aggregate(zip_with({row_vec}, c.ce, (x, y) -> x * y),"
            f" cast(0.0 as double), (s, x) -> s + x) / ({row_nrm} * c.cnrm), 6)"
        )

    centarr = centroid_array(cent, "cell_id", "ce", "cnrm")
    assigned = emb.crossJoin(centarr).select(
        "vec_id",
        "e",
        "nrm",
        argmin_cell(neg_cos("e", "nrm"))["cell_id"].alias("cell_id"),
    )
    # clamp the radicand at 0: a centroid is a MEMBER of its own cell
    # and its self-cosine can float to 1+eps, making sqrt() NaN — and
    # Spark's max() treats NaN as greatest, so one NaN poisons the
    # whole cell_r and the prune then drops the entire cell (caught by
    # the brute-force oracle at sf0.001: cell 4's true neighbor
    # vanished)
    def dist_expr(vec: str, nrm: str) -> str:
        # d = sqrt(max(2 - 2*cos, 0)); the clamp stops a self-cosine
        # floating to 1+eps from turning into a NaN
        cos = (
            f"aggregate(zip_with({vec}, ce, (x, y) -> x * y),"
            f" cast(0.0 as double), (s, x) -> s + x) / ({nrm} * cnrm)"
        )
        return (
            f"round(sqrt(greatest(2.0d - 2.0d * ({cos}), 0.0d)), 6)"
        )

    member_d = assigned.join(F.broadcast(cent), "cell_id").selectExpr(
        "cell_id", "vec_id", f"{dist_expr('e', 'nrm')} as d"
    )
    radii = member_d.groupBy("cell_id").agg(F.max("d").alias("cell_r"))
    q = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < N_QUERIES)
        .selectExpr("vec_id as query_id", f"{_cast} as qe")
        .selectExpr(
            "query_id",
            "qe",
            "sqrt(aggregate(qe, cast(0.0 as double),"
            " (s, x) -> s + x * x)) as qnrm",
        )
    )
    # size the ball from the ROUNDING-ADMITTED cosine threshold (the 4-dp
    # reported cosine keeps rows down to RADIUS_COS - 0.5e-4), so the
    # prune can never drop a cell holding an oracle-admitted neighbor
    ball_r = float((2.0 - 2.0 * (RADIUS_COS - _RADIUS_COS_ROUND)) ** 0.5)
    probes = (
        q.crossJoin(F.broadcast(cent))
        .selectExpr(
            "query_id",
            "qe",
            "qnrm",
            "cell_id",
            f"{dist_expr('qe', 'qnrm')} as dq",
        )
        .join(F.broadcast(radii), "cell_id")
        .filter(
            F.col("dq") - F.col("cell_r") <= F.lit(ball_r + _RADIUS_SLACK)
        )
        .select("query_id", "qe", "qnrm", "cell_id")
    )
    return {"assigned": assigned, "radii": radii, "probes": probes}


def knn_radius_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT radius search — every corpus vector with cosine >=
    RADIUS_COS of each query — with metric cell pruning (the ball-tree
    bound of Omohundro 1989 applied to IVF cells): on unit vectors
    cos(q,x) >= t  <=>  ||q̂−x̂|| <= r = sqrt(2−2t), so a cell c with
    member radius R_c = max ||x̂−ĉ|| can be SKIPPED whenever
    ||q̂−ĉ|| − R_c > r — the triangle inequality guarantees no member
    can be inside the query ball. Unlike the ANN operators this loses
    NOTHING: pruning is conservative — the ball is sized from the
    4-dp-rounding-admitted cosine threshold (RADIUS_COS − 0.5e-4, since
    the reported cosine is ROUND(·,4)) and the slack absorbs the shared
    6-dp distance rounding — and the oracle is the brute-force radius
    scan, so hash equality proves prune-exactness.

    Scale: assignment/radii are one broadcast-centroid pass over the
    corpus (row-local argmax + one grouped MAX); the query×cell prune
    is queries × N_CELLS row-local math; only SURVIVING (query, cell)
    pairs join cell members — on clustered corpora the scan fraction
    is the ball-overlap fraction (on 16 tight clusters of 125, where
    cells are clusters, at least 90% of query-cells are pruned —
    measured 119 of 128 — and the result equals brute force), and on
    hostile iid corpora it degrades to a full scan while staying exact
    (sf0.1: no query-cell pruned; same honest-floor contract as the
    ANN recall docs). Both are
    ``tests/test_r13_operators.py::test_radius_search_equals_bruteforce``.
    """
    parts = _radius_parts(spark, sf_dir)
    assigned, probes = parts["assigned"], parts["probes"]
    cos = (
        "round(aggregate(zip_with(qe, e, (x, y) -> x * y),"
        " cast(0.0 as double), (s, x) -> s + x) / (qnrm * nrm), 4)"
    )
    return (
        F.broadcast(probes)
        .join(assigned, "cell_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .selectExpr(
            "query_id",
            "vec_id as neighbor_id",
            f"{cos} as cosine",
        )
        .filter(F.col("cosine") >= RADIUS_COS)
        .orderBy("query_id", "neighbor_id")
    )


def _radius_sql() -> str:
    # brute force IS the oracle: prune-exactness means the cell-pruned
    # plan must hash-match the full scan
    dot = _SQL_DOT.format(a="q.e", b="c.e")
    na = _SQL_NORM.format(a="q.e")
    nb = _SQL_NORM.format(a="c.e")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id, e FROM e WHERE vec_id < {N_QUERIES})
SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
  ROUND({dot} / ({na} * {nb}), 4) AS cosine
FROM q JOIN e c ON c.vec_id <> q.vec_id
WHERE ROUND({dot} / ({na} * {nb}), 4) >= {RADIUS_COS}
ORDER BY query_id, neighbor_id
"""


QUERIES["knn_radius_cells"] = knn_radius_cells
ORACLE["knn_radius_cells"] = _radius_sql()


# --- Clustering quality: simplified silhouette per IVF cell (round 14) -------


def ann_silhouette_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette per IVF cell — the clustering-quality
    readout for the ANN family (the centroid-based silhouette of
    Hruschka et al. 2004, the standard O(N·K) surrogate for Rousseeuw
    1987's O(N²) silhouette): for each vector, a = distance to its OWN
    cell centroid, b = distance to the NEAREST OTHER centroid, and
    s = (b − a) / max(a, b) ∈ [−1, 1]. Per-cell mean s quantifies how
    cleanly that cell separates — the number that explains the
    measured prune/recall contrast between clustered and iid corpora
    (corpus mean 0.997 on the 16-cluster corpus the radius prune cuts
    by 93%, 0.077 on sf0.1's iid vectors where it prunes nothing:
    near-zero silhouette IS the iid floor; pinned in
    tests/test_r13_operators.py::test_radius_search_equals_bruteforce).

    Distances are cosine distances d = 1 − round(cos, 6) against the
    same deterministic centroid set as the IVF/radius family
    (vec_id < N_CELLS). Both a and b fall out of ONE row-local
    pass: the broadcast centroid array yields the sorted
    (metric, cell_id) struct list, whose first element is the
    assignment (ties on lower cell_id, as everywhere in the family)
    and whose second is the nearest-other distance — zero shuffle
    until the final N_CELLS-row rollup, so the plan is scan-shaped at
    any corpus size.
    """
    emb = _with_norm(
        load_table(spark, sf_dir, "embeddings", rebalance=True), "vec_id"
    )
    cent = _with_norm(
        load_table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") < N_CELLS
        ),
        "vec_id",
    ).select(
        F.col("vec_id").alias("cell_id"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cnrm"),
    )
    neg_cos = (
        "-round(aggregate(zip_with(e, c.ce, (x, y) -> x * y),"
        " cast(0.0 as double), (s, x) -> s + x) / (nrm * c.cnrm), 6)"
    )
    centarr = centroid_array(cent, "cell_id", "ce", "cnrm")
    two = emb.crossJoin(centarr).select(
        "vec_id", top_cells(neg_cos, 2).alias("nearest2")
    )
    a_d = F.lit(1.0) + F.col("nearest2")[0]["metric"]
    b_d = F.lit(1.0) + F.col("nearest2")[1]["metric"]
    s = F.when(
        F.greatest(a_d, b_d) > 0, (b_d - a_d) / F.greatest(a_d, b_d)
    ).otherwise(F.lit(0.0))
    per_vec = two.select(
        F.col("nearest2")[0]["cell_id"].alias("cell_id"),
        F.round(a_d, 6).cast("decimal(18,6)").alias("a_d"),
        F.round(b_d, 6).cast("decimal(18,6)").alias("b_d"),
        F.round(s, 6).cast("decimal(18,6)").alias("s"),
    )
    return (
        per_vec.groupBy("cell_id")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(
                F.sum("a_d").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_a"),
            F.round(
                F.sum("b_d").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_b"),
            F.round(
                F.sum("s").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_silhouette"),
        )
        .orderBy("cell_id")
    )


def _silhouette_sql() -> str:
    cos = "ROUND({dot} / ({na} * {nb}), 6)".format(
        dot=_SQL_DOT.format(a="x.e", b="c.ce"),
        na=_SQL_NORM.format(a="x.e"),
        nb=_SQL_NORM.format(a="c.ce"),
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
cent AS (SELECT vec_id AS cell_id, e AS ce FROM e WHERE vec_id < {N_CELLS}),
ranked AS (
  SELECT x.vec_id, c.cell_id, 1 - {cos} AS d,
    ROW_NUMBER() OVER (PARTITION BY x.vec_id
                       ORDER BY {cos} DESC, c.cell_id ASC) AS rn
  FROM e x CROSS JOIN cent c
),
per_vec AS (
  SELECT vec_id,
    MAX(CASE WHEN rn = 1 THEN cell_id END) AS cell_id,
    MAX(CASE WHEN rn = 1 THEN d END) AS a_d,
    MAX(CASE WHEN rn = 2 THEN d END) AS b_d
  FROM ranked WHERE rn <= 2 GROUP BY vec_id
),
scored AS (
  SELECT cell_id,
    CAST(ROUND(a_d, 6) AS DECIMAL(18,6)) AS a_d,
    CAST(ROUND(b_d, 6) AS DECIMAL(18,6)) AS b_d,
    CAST(ROUND(CASE WHEN GREATEST(a_d, b_d) > 0
      THEN (b_d - a_d) / GREATEST(a_d, b_d) ELSE 0.0 END, 6)
      AS DECIMAL(18,6)) AS s
  FROM per_vec
)
SELECT cell_id, COUNT(*) AS n_vectors,
  ROUND(CAST(SUM(a_d) AS DOUBLE) / COUNT(*), 6) AS mean_a,
  ROUND(CAST(SUM(b_d) AS DOUBLE) / COUNT(*), 6) AS mean_b,
  ROUND(CAST(SUM(s) AS DOUBLE) / COUNT(*), 6) AS mean_silhouette
FROM scored GROUP BY cell_id ORDER BY cell_id
"""


QUERIES["ann_silhouette_cells"] = ann_silhouette_cells
ORACLE["ann_silhouette_cells"] = _silhouette_sql()


# --- Matryoshka prefix-dimension fidelity (round 14) --------------------------

MRL_DIMS = [8, 16, 32, 64]  #: prefix dims profiled (64 = full width)


def embedding_matryoshka_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation quality readout (Kusupati et al. 2022,
    arXiv:2205.13147): how faithful is nearest-neighbor search when
    vectors are truncated to a prefix of their dimensions — the
    decision input for the standard MRL serving trade (short prefixes
    for the ANN shortlist, full width for re-rank). For each prefix
    width D the operator reports (a) top-1 agreement: the fraction of
    queries whose D-dim top-1 neighbor equals their full-width top-1
    (ties broken on lower neighbor_id, as everywhere in the family),
    and (b) the mean absolute cosine error |cos_D − cos_full| over all
    query-corpus pairs (6-dp decimal sums — order-independent).

    Note the honest-fixture caveat shared with the ANN recall docs:
    these embeddings are iid, not MRL-trained, so agreement at small D
    reads as the UNTRAINED floor — the operator measures whatever
    corpus it is given.

    Scale: the bounded query set (N_QUERIES rows) broadcast-cross-
    joins the corpus once; every per-pair quantity (4 prefix cosines)
    is row-local; the per-(query, D) argmax is a max-of-struct
    aggregate (no window over the corpus), and the final rollup is
    len(MRL_DIMS)-row. One corpus scan total.
    """
    emb = _with_norm(
        load_table(spark, sf_dir, "embeddings", rebalance=True), "vec_id"
    )
    q = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            _as_double(F.col("embedding")).alias("qe"),
        )
    )

    def cos_at(d: int) -> str:
        return (
            f"round(aggregate(zip_with(slice(qe, 1, {d}), slice(e, 1, {d}),"
            " (x, y) -> x * y), cast(0.0 as double), (s, x) -> s + x)"
            f" / (sqrt(aggregate(slice(qe, 1, {d}), cast(0.0 as double),"
            " (s, x) -> s + x * x))"
            f" * sqrt(aggregate(slice(e, 1, {d}), cast(0.0 as double),"
            " (s, x) -> s + x * x))), 6)"
        )

    pairs = (
        F.broadcast(q)
        .crossJoin(emb.select("vec_id", "e"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            *[F.expr(cos_at(d)).alias(f"c{d}") for d in MRL_DIMS],
        )
    )
    stacked = pairs.select(
        "query_id",
        "neighbor_id",
        F.expr(
            "stack("
            + str(len(MRL_DIMS))
            + ", "
            + ", ".join(f"{d}, c{d}" for d in MRL_DIMS)
            + ") as (dim, cos)"
        ),
        F.col(f"c{MRL_DIMS[-1]}").alias("cos_full"),
    )
    from etl_gcp_function_tmabrasil_spark.queries._util import managed_persist

    # deterministic argmax without structs: pack the 6-dp cosine and
    # the tiebreak id into ONE bigint — pk = cos6*1e11 - id (ids are
    # far below 1e11; |pk| <= 1e17 fits long) — then unpack the winner
    # id as pmod(-max_pk, 1e11). Identical arithmetic in the oracle.
    pack = (
        F.round(F.col("cos") * 1e6).cast("long") * F.lit(100_000_000_000)
        - F.col("neighbor_id")
    )
    per_qd = managed_persist(
        stacked.groupBy("query_id", "dim").agg(
            F.pmod(-F.max(pack), F.lit(100_000_000_000)).alias("top1_id"),
            F.sum(
                F.round(F.abs(F.col("cos") - F.col("cos_full")), 6).cast(
                    "decimal(18,6)"
                )
            ).alias("abs_err_sum"),
            F.count(F.lit(1)).alias("n_pairs"),
        ),
        "similarity.mrl_per_qd",
    )
    full = per_qd.filter(F.col("dim") == MRL_DIMS[-1]).select(
        "query_id", F.col("top1_id").alias("top1_full")
    )
    return (
        per_qd.join(F.broadcast(full), "query_id")
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.round(
                F.avg(
                    (F.col("top1_id") == F.col("top1_full")).cast("int")
                ),
                6,
            ).alias("top1_agreement"),
            F.round(
                F.sum("abs_err_sum").cast("double") / F.sum("n_pairs"), 6
            ).alias("mean_abs_cos_err"),
        )
        .orderBy("dim")
    )


def _mrl_sql() -> str:
    def cos_at(d: int) -> str:
        a, b = f"q.qe[1:{d}]", f"c.e[1:{d}]"
        dot = _SQL_DOT.format(a=a, b=b)
        na = _SQL_NORM.format(a=a)
        nb = _SQL_NORM.format(a=b)
        return f"ROUND({dot} / ({na} * {nb}), 6)"

    stack_rows = " UNION ALL ".join(
        f"SELECT query_id, neighbor_id, {d} AS dim, c{d} AS cos, c{MRL_DIMS[-1]} AS cos_full FROM pairs"
        for d in MRL_DIMS
    )
    cols = ", ".join(f"{cos_at(d)} AS c{d}" for d in MRL_DIMS)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id AS query_id, e AS qe FROM e WHERE vec_id < {N_QUERIES}),
pairs AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, {cols}
  FROM q JOIN e c ON c.vec_id <> q.query_id
),
stacked AS ({stack_rows}),
per_qd AS (
  SELECT query_id, dim,
    ((-(MAX(CAST(ROUND(cos * 1e6) AS BIGINT) * 100000000000
           - neighbor_id)) % 100000000000) + 100000000000)
      % 100000000000 AS top1_id,
    SUM(CAST(ROUND(ABS(cos - cos_full), 6) AS DECIMAL(18,6)))
      AS abs_err_sum,
    COUNT(*) AS n_pairs
  FROM stacked GROUP BY query_id, dim
),
fullq AS (
  SELECT query_id, top1_id AS top1_full FROM per_qd
  WHERE dim = {MRL_DIMS[-1]}
)
SELECT f.dim, COUNT(*) AS n_queries,
  ROUND(AVG(CASE WHEN f.top1_id = fq.top1_full
                 THEN 1 ELSE 0 END), 6) AS top1_agreement,
  ROUND(CAST(SUM(f.abs_err_sum) AS DOUBLE) / SUM(f.n_pairs), 6)
    AS mean_abs_cos_err
FROM per_qd f JOIN fullq fq ON f.query_id = fq.query_id
GROUP BY f.dim ORDER BY f.dim
"""


QUERIES["embedding_matryoshka_fidelity"] = embedding_matryoshka_fidelity
ORACLE["embedding_matryoshka_fidelity"] = _mrl_sql()

"""Seeded embedding corpora of the ANN invariants, each one
``embeddings.parquet`` in the driver's schema (label = cluster id).
The iid corpus needs no builder: ``IID`` holds 2,000 N(0, I) vectors
of dim 64, every banding and quantization scheme's worst case."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from etl_gcp_function_tmabrasil_spark.queries.similarity import N_CELLS
from tests.conftest import SF_SMOKE

IID = os.path.join(os.path.dirname(SF_SMOKE), "sf0.1")


def _clusters(rng, n: int, per: int):
    """``per`` members at N(center, 0.05^2 I) of each of ``n`` centers."""
    centers = rng.randn(n, 64)
    vecs = centers[:, None, :] + 0.05 * rng.randn(n, per, 64)
    return vecs.reshape(-1, 64), np.repeat(np.arange(n), per)


def _write(dirp: str, vecs: np.ndarray, labels: np.ndarray) -> None:
    os.makedirs(dirp, exist_ok=True)
    emb = pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32()))
    ids = pa.array(range(len(vecs)), pa.int64())
    t = pa.table({"vec_id": ids, "embedding": emb, "label": labels.astype(np.int32)})
    pq.write_table(t, os.path.join(dirp, "embeddings.parquet"))


def build_clustered(dirp: str, n_clusters: int = 333, per: int = 6) -> None:
    """Planted duplicates (seed 7), vec_ids shuffled so the low ids
    (queries, IVF exemplars) span clusters: with ``per`` = 6 a query's
    exact top-5 is its 5 planted mates."""
    rng = np.random.RandomState(7)
    vecs, labels = _clusters(rng, n_clusters, per)
    perm = rng.permutation(len(vecs))
    _write(dirp, vecs[perm], labels[perm])


def build_tight(dirp: str, per: int = 125) -> None:
    """N_CELLS clusters (seed 11); vec_ids 0..N_CELLS-1 are one member
    per cluster, so the IVF family's first-N_CELLS centroids make its
    cells the clusters. The rest are shuffled."""
    rng = np.random.RandomState(11)
    vecs, labels = _clusters(rng, N_CELLS, per)
    first = np.arange(N_CELLS) * per
    rest = np.setdiff1d(np.arange(len(vecs)), first)
    rng.shuffle(rest)
    order = np.concatenate([first, rest])
    _write(dirp, vecs[order], labels[order])


def vectors(dirp: str) -> np.ndarray:
    """The embeddings as float64 rows; row i is vec_id i in each corpus."""
    t = pq.read_table(os.path.join(dirp, "embeddings.parquet"))
    return np.array(t["embedding"].to_pylist(), float)


def query_cosines(mat: np.ndarray, n_queries: int) -> np.ndarray:
    """Cosines, rounded to 4 dp as the engine ranks them, of each query
    vec_id < ``n_queries`` (rows) against every vector (columns)."""
    n, nrm = n_queries, np.linalg.norm(mat, axis=1)
    return np.round(mat[:n] @ mat.T / np.outer(nrm[:n], nrm), 4)

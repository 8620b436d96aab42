"""IVF (inverted-file) ANN index over an embedding column — the
coarse-quantizer alternative to the sign-sketch LSH index in
operators/similarity.py (the round brief names both: "an IVF or
LSH-bucketed variant as the scale path").

Shape: a small deterministic k-means (driver-side NumPy over a
bounded sample — centroids are MODEL parameters, like the LSH planes)
partitions vectors into n_centroids cells; the index is the
embeddings table written as plain parquet sorted by (centroid_id,
vec_id); a probe ranks centroids against the query driver-side and
reads only the top ``nprobe`` cells (a pushed-down ``centroid_id IN
(...)`` → row-group pruning on the sort, same plan shape as the LSH
sketch probe). Exact cosine re-rank inside the probed cells.

Scale: assignment is one scan with an Arrow-batched matmul+argmax
(batch_rows × n_centroids GEMM — no per-row Python); the write is
one range shuffle + sort on (centroid_id, vec_id); a probe reads the
row groups of nprobe/n_centroids of the data. Recall is
data-dependent (gated on clustered fixtures like the LSH tests;
i.i.d. gaussian data defeats any sub-linear ANN — same honest floor
the LSH tests document).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from zensearch_spark.operators.similarity import rerank_topk
from zensearch_spark.operators.topk import check_queries, query_matrix


def train_ivf_centroids(
    emb: DataFrame,
    n_centroids: int = 64,
    sample_every: int = 1,
    max_sample: int = 20_000,
    iters: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic spherical k-means on a bounded driver sample.

    The sample is id-keyed (vec_id % sample_every == 0, capped at
    max_sample by an ordered limit — a distributed top-n on the id,
    NOT a bare ``limit()`` whose row choice follows partition
    enumeration order), so the same table always yields the same
    centroids regardless of file layout or partitioning — training is
    a one-time model fit, the analog of the LSH planes' fixed seed
    (round-4 ADVICE: bare limit broke the determinism claim once the
    modulus-filtered sample exceeded max_sample). Returns
    (n_centroids, dim) L2-normalized float64."""
    s = emb.filter((F.col(id_col) % sample_every) == 0).select(id_col, vec_col)
    pdf = s.orderBy(id_col).limit(max_sample).toPandas().sort_values(id_col)
    mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    n = len(mat)
    k = min(n_centroids, n)
    rng = np.random.default_rng([seed, k, mat.shape[1]])
    cent = mat[rng.permutation(n)[:k]].copy()
    for _ in range(iters):
        assign = np.argmax(mat @ cent.T, axis=1)
        for c in range(k):
            members = mat[assign == c]
            if len(members):
                v = members.sum(axis=0)
                nv = np.linalg.norm(v)
                if nv > 1e-12:
                    cent[c] = v / nv
    return cent


def modular_mean_centroids(
    emb: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Data-derived centroids an external SQL engine can reproduce
    exactly: centroid c = elementwise MEAN of vectors with
    vec_id % n_cells == c (random-partition means, the classic k-means
    init — unnormalized, since argmax assignment is scale-invariant in
    the row only). Feeds the driver-visible ivf_recall correctness
    entry, where the whole IVF mechanism (assignment, cell pruning,
    exact re-rank, recall accounting) is mirrored in DuckDB; the
    k-means fit (train_ivf_centroids) remains the production model
    path. One distributed posexplode+avg pass; the collect is
    model-sized (n_cells × dim rows), never data-sized."""
    rows = (
        emb.select(
            (F.col(id_col) % n_cells).alias("cell"),
            F.posexplode(vec_col).alias("dim", "x"),
        )
        .groupBy("cell", "dim")
        .agg(F.avg(F.col("x").cast("double")).alias("cx"))
        .collect()
    )
    dim = 1 + max(r["dim"] for r in rows)
    seen = {r["cell"] for r in rows}
    if len(seen) != n_cells:
        # ADVICE r5: the DuckDB mirror (_ivf_recall_sql centv CTE)
        # has no row for an empty cell, while a zero-vector centroid
        # here would still participate in assignment/probing — the
        # two engines would diverge spuriously. Dense ids guarantee
        # every residue class is populated whenever n_rows >= n_cells;
        # enforce that precondition instead of silently diverging.
        missing = sorted(set(range(n_cells)) - seen)
        raise ValueError(
            f"modular_mean_centroids: cells {missing} have no members "
            f"(n_cells={n_cells}) — id space must cover every residue "
            "class mod n_cells for oracle parity"
        )
    cent = np.zeros((n_cells, dim))
    for r in rows:
        cent[r["cell"], r["dim"]] = r["cx"]
    return cent


def assign_centroids(
    emb: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, embedding, centroid_id): nearest centroid by cosine,
    computed as an Arrow-batched matmul+argmax (rows are normalized
    inside the worker; centroids ship in the closure — model-sized,
    not data-sized)."""
    cent = np.ascontiguousarray(centroids, dtype=np.float64)
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType(), False),
            T.StructField("embedding", emb.schema[vec_col].dataType, False),
            T.StructField("centroid_id", T.IntegerType(), False),
        ]
    )

    def assign(batches):
        for pdf in batches:
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            cid = np.argmax(mat @ cent.T, axis=1).astype(np.int32)
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].astype("int64"),
                    "embedding": pdf[vec_col],
                    "centroid_id": cid,
                }
            )

    return emb.select(id_col, vec_col).mapInPandas(assign, schema)


def build_ivf_index(
    emb: DataFrame,
    out_path: str,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF cells: one scan + one global sort on
    (centroid_id, vec_id), written as plain parquet so a probe's
    pushed-down ``centroid_id IN (...)`` skips the row groups of
    every other cell."""
    (
        assign_centroids(emb, centroids, id_col, vec_col)
        .orderBy("centroid_id", "vec_id")
        .write.mode("overwrite")
        .parquet(out_path)
    )


def probe_cells(
    centroids: np.ndarray, query_vec: list[float], nprobe: int
) -> list[int]:
    """Driver-side centroid ranking: the nprobe nearest cells."""
    q = np.asarray(query_vec, dtype=np.float64)
    q = q / max(float(np.linalg.norm(q)), 1e-12)
    sims = centroids @ q
    # stable sort: exact dot ties resolve to the LOWEST cell id, the
    # same tiebreak the SQL oracle's (dot DESC, cell ASC) window uses
    return sorted(int(c) for c in np.argsort(-sims, kind="stable")[:nprobe])


def ivf_topk_batch(
    spark,
    cells: DataFrame,
    centroids: np.ndarray,
    queries: list[tuple[int, list[float], int]],
    nprobe: int = 8,
) -> DataFrame:
    """Approximate top-k for a query SET: each query reads only its
    ``nprobe`` nearest cells of ``cells`` — (vec_id, embedding,
    centroid_id) rows, the sorted index (where the union of probed
    cells is a pushed-down ``centroid_id IN (...)``) or assign_centroids'
    output — and similarity.rerank_topk ranks the candidates.
    ``queries`` = [(query_id, query_vec, k)], valid per
    topk.check_queries and of the centroids' dimension. Eager; returns
    (query_id, vec_id, cosine) ordered by (query_id, cosine desc,
    vec_id asc)."""
    check_queries(queries)
    qm = query_matrix(queries, dim=centroids.shape[1])
    probe_rows = [(int(qid), c) for (qid, _vec, _k), q in zip(queries, qm)
                  for c in probe_cells(centroids, q, nprobe)]
    probes = spark.createDataFrame(probe_rows, "query_id int, centroid_id int")
    cand = cells.filter(F.col("centroid_id").isin(sorted({c for _, c in probe_rows})))
    return rerank_topk(cand.join(F.broadcast(probes), "centroid_id"), queries, qm)


def ivf_topk(
    spark,
    index_path: str,
    centroids: np.ndarray,
    query_vec: list[float],
    k: int = 20,
    nprobe: int = 8,
) -> DataFrame:
    """Approximate top-k of one query: the one-query batch of
    ivf_topk_batch over the sorted index. Returns (vec_id, cosine)."""
    return ivf_topk_batch(
        spark, spark.read.parquet(index_path), centroids, [(0, query_vec, k)], nprobe
    ).select("vec_id", "cosine")

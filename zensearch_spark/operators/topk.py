"""The one top-k tail of the batched ranking operators (WAND and the
vector family): request checks made on the driver before any Spark
job, and the merge that ranks candidate rows per query. As in Spark's
TakeOrderedAndProject, each task keeps a partial top-k and one merge
on the driver produces the answer; ``merge_topk`` serves both steps.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def check_queries(queries: list[tuple[int, object, int]]) -> None:
    """Reject a (query_id, query, k) request a batch top-k operator
    would answer wrongly or fail on inside a Python worker: query ids
    must be unique (each query's top k is keyed by id, so two queries
    sharing an id would be merged into one answer) and every k must be
    at least 1."""
    seen: set = set()
    for qid, _query, k in queries:
        if qid in seen:
            raise ValueError(f"query_id {qid!r} appears more than once in the request")
        seen.add(qid)
        if k < 1:
            raise ValueError(f"query_id {qid!r}: k must be >= 1, got {k!r}")


def query_matrix(queries: list[tuple[int, object, int]], dim: int | None = None) -> np.ndarray:
    """The (|Q|, dim) float64 query vectors of a vector batch. One whose
    length differs from ``dim`` (default: the first query's) raises
    ValueError naming its query_id."""
    vecs = [np.asarray(vec, dtype=np.float64) for _qid, vec, _k in queries]
    dim = dim if dim is not None or not vecs else len(vecs[0])
    for (qid, _vec, _k), v in zip(queries, vecs):
        if v.ndim != 1 or len(v) != dim:
            raise ValueError(
                f"query_id {qid!r}: query vector has {v.size} dimensions, expected {dim}"
            )
    return np.stack(vecs) if vecs else np.empty((0, dim or 0))


def merge_topk(rows: pa.Table, k_of: dict[int, int], id_col: str, score_col: str) -> pa.Table:
    """Each query's first ``k_of[query_id]`` rows by (query_id, score
    desc, id asc), one row per (query_id, id). The ANN sketch holds a
    copy of each vector per table; its copies score alike (a cosine is
    computed from its own row alone), so they sort next to each other
    and all but the first are dropped. (A WAND doc lives in one salt
    group: nothing to drop.)"""
    qid = rows["query_id"].to_numpy()
    ids = rows[id_col].to_numpy()
    order = np.lexsort((ids, -rows[score_col].to_numpy(), qid))
    q, i = qid[order], ids[order]
    dup = np.zeros(len(order), bool)
    dup[1:] = (q[1:] == q[:-1]) & (i[1:] == i[:-1])
    order = order[~dup]
    qids, starts, counts = np.unique(qid[order], return_index=True, return_counts=True)
    rank = np.arange(len(order)) - np.repeat(starts, counts)
    limit = np.repeat([k_of[q] for q in qids.tolist()], counts)
    return rows.take(order[rank < limit])

"""ANN sketch index: recall gate + row-group pruning check.

Round-1 VERDICT item 5: the approximate operator needs a quantitative
gate (recall@k vs the exact cosine baseline) and a persisted sketch
whose probe scan provably skips unprobed buckets. The sketch and the
IVF cells are plain parquet sorted by their probe keys; the fixtures
write them with a small ``parquet.block.size`` so the sort yields
several row groups and pruning is visible at test scale.

Recall is gated on CLUSTERED synthetic embeddings — the data shape ANN
indexes exist for. The driver's testdata embeddings are i.i.d.
gaussian (measured: mean top-20 neighbor cosine 0.27 vs 0.0 overall),
where NO sub-linear angular LSH can reach high recall — on that table
the test asserts a documented, weaker floor instead of pretending.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import _jobs_run, _pushed_filters, _row_group_stats, _small_row_groups

SF_DIR = "/root/testdata/sf0.01"
DIM = 64


@pytest.fixture(scope="module")
def clustered(spark):
    """500 vectors in 25 tight clusters (within-cluster cosine ~0.9)."""
    rng = np.random.default_rng(7)
    centers = rng.standard_normal((25, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(500):
        c = centers[i % 25]
        v = c + 0.25 * rng.standard_normal(DIM) / np.sqrt(DIM)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


@pytest.fixture(scope="module")
def clustered_sketch(spark, clustered, tmp_path_factory):
    from zensearch_spark.operators.similarity import build_ann_index

    path = str(tmp_path_factory.mktemp("ann") / "sketch")
    _small_row_groups(spark, lambda: build_ann_index(
        clustered, path, dim=DIM, n_planes=8, n_tables=4))
    return path


def _qvec(emb, vec_id: int) -> list[float]:
    row = emb.filter(F.col("vec_id") == vec_id).collect()[0]
    return [float(x) for x in row["embedding"]]


def _np_matrix(emb) -> tuple[np.ndarray, np.ndarray]:
    """(ids, float64 rows) of an embeddings DataFrame, sorted by vec_id."""
    rows = sorted(emb.select("vec_id", "embedding").collect())
    ids = np.asarray([r["vec_id"] for r in rows], dtype=np.int64)
    return ids, np.asarray([r["embedding"] for r in rows], dtype=np.float64)


def _np_exact_pairs(emb, threshold: float) -> set[tuple[int, int, float]]:
    """NumPy reference of exact near-dup pairs: (vec_a < vec_b, cosine)
    with cosine = dot / (norm · norm) rounded to 6 dp, ≥ threshold."""
    ids, m = _np_matrix(emb)
    nrm = np.sqrt((m * m).sum(axis=1))
    cos = np.round((m @ m.T) / (nrm[:, None] * nrm[None, :]), 6)
    ii, jj = np.nonzero((cos >= threshold) & (ids[:, None] < ids[None, :]))
    return {(int(ids[i]), int(ids[j]), float(cos[i, j])) for i, j in zip(ii, jj)}


def test_ann_recall_clustered(spark, clustered, clustered_sketch):
    """recall@10 ≥ 0.9 vs exact cosine at the DEFAULT probe budget
    (8 planes × 4 tables, hamming 1 → ≤ 4·9/256 ≈ 14% of the data)."""
    from zensearch_spark.operators.similarity import ann_topk_indexed, cosine_topk

    k = 10
    recalls = []
    for vid in (0, 7, 42, 99, 123):
        q = _qvec(clustered, vid)
        exact = {r["vec_id"] for r in cosine_topk(clustered, q, k=k).collect()}
        approx = {
            r["vec_id"]
            for r in ann_topk_indexed(spark, clustered_sketch, q, k=k).collect()
        }
        recalls.append(len(exact & approx) / k)
    avg = sum(recalls) / len(recalls)
    assert avg >= 0.9, (avg, recalls)


def test_ann_recall_floor_on_uniform_testdata(spark, tmp_path_factory):
    """On the driver's i.i.d.-gaussian embeddings (no angular
    structure) the same budget is asserted only against a documented
    floor — full recall on structureless data would require scanning
    nearly everything, which is cosine_topk's job."""
    from zensearch_spark.operators.similarity import (
        ann_topk_indexed, build_ann_index, cosine_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path_factory.mktemp("annu") / "sketch")
    build_ann_index(emb, path, dim=DIM, n_planes=8, n_tables=4)
    k = 20

    def recall(probe_hamming: int) -> float:
        recalls = []
        for vid in (0, 42, 123):
            q = _qvec(emb, vid)
            exact = {r["vec_id"] for r in cosine_topk(emb, q, k=k).collect()}
            approx = {
                r["vec_id"]
                for r in ann_topk_indexed(
                    spark, path, q, k=k, probe_hamming=probe_hamming
                ).collect()
            }
            recalls.append(len(exact & approx) / k)
        return sum(recalls) / len(recalls)

    r1 = recall(1)   # ~14% of data scanned (measured ~0.4 recall)
    r2 = recall(2)   # ~58% scanned — budget↑ must buy recall↑
    assert r1 >= 0.3, r1
    assert r2 > r1 and r2 >= 0.6, (r1, r2)


def test_ann_probe_scan_prunes_partitions(spark, clustered, clustered_sketch):
    """Unprobed buckets must not be read — the property that makes
    this viable at 100 TB. The (table_id, bucket) probe predicate must
    reach the parquet reader as a pushed filter, and on the sketch's
    (table_id, bucket, vec_id) sort order it must rule out row groups
    by their min/max statistics alone."""
    from zensearch_spark.operators.similarity import ann_topk_indexed, probe_buckets

    q = _qvec(clustered, 0)
    pushed = _pushed_filters(spark, lambda: ann_topk_indexed(spark, clustered_sketch, q, k=5))
    assert "table_id" in pushed and "bucket" in pushed, pushed

    probes = {
        t: set(probe_buckets(q, n_planes=8, probe_hamming=1, table=t))
        for t in range(4)
    }
    assert all(len(b) == 9 for b in probes.values())
    groups = _row_group_stats(clustered_sketch, ["table_id", "bucket"])
    # a row group survives the pushed OR-of-ANDs iff one disjunct
    # (table_id = t AND bucket IN B) fits inside its min/max ranges
    matched = [
        g for g in groups
        if any(
            g["table_id"][0] <= t <= g["table_id"][1]
            and any(g["bucket"][0] <= b <= g["bucket"][1] for b in bs)
            for t, bs in probes.items()
        )
    ]
    assert 0 < len(matched) < len(groups), (len(matched), len(groups))


def test_ann_build_plans_bucket_kernel_once(spark, clustered, monkeypatch):
    """The plan build_ann_index writes evaluates the sign-sketch kernel
    in exactly ONE ArrowEvalPython node with ONE Python UDF output: the
    per-table _bk[t] extractions and the stack fan-out must not copy
    it."""
    from pyspark.sql.readwriter import DataFrameWriter
    from zensearch_spark.operators.similarity import build_ann_index

    plans = []

    def capture(self, path, *args, **kwargs):
        plans.append(self._df._jdf.queryExecution().executedPlan().toString())

    monkeypatch.setattr(DataFrameWriter, "parquet", capture)
    build_ann_index(clustered, "unwritten", dim=DIM, n_planes=8, n_tables=4)
    assert len(plans) == 1
    nodes = [ln for ln in plans[0].splitlines() if "ArrowEvalPython" in ln]
    assert len(nodes) == 1, plans[0]
    assert nodes[0].count("pythonUDF") == 1, nodes[0]


def test_embedding_neardup_lsh_vs_exact(spark, clustered):
    """LSH-blocked near-dup pairs: precision must be 1 (candidates are
    exact-cosine verified) and recall high on clustered embeddings —
    within-cluster pairs collide in ≥1 of the 4 tables."""
    from zensearch_spark.caching import release
    from zensearch_spark.operators.similarity import embedding_neardup_lsh

    thr = 0.8
    exact = {(a, b) for a, b, _ in _np_exact_pairs(clustered, thr)}
    assert len(exact) > 100, "clustered fixture must produce near-dup pairs"
    lsh_df = embedding_neardup_lsh(
        clustered, threshold=thr, dim=DIM, n_planes=8, n_tables=4, block=128
    )
    lsh = {(r["vec_a"], r["vec_b"]) for r in lsh_df.collect()}
    release(lsh_df)
    assert lsh <= exact, "precision must be 1 (exact verify)"
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.8, recall


@pytest.mark.parametrize("max_bucket_size", [None, 50])
def test_embedding_neardup_lsh_kernel_runs_once(
    spark, clustered, monkeypatch, max_bucket_size
):
    """The sign-sketch kernel sees each input row once: both sides of
    the self-join (and the bucket-size count) read one persisted
    sketch. The counting wrapper is resolved when the UDF is pickled,
    so it ships with it to the workers; release frees the sketch."""
    from zensearch_spark.caching import release
    from zensearch_spark.operators import similarity

    rows = spark.sparkContext.accumulator(0)
    original = similarity._sign_buckets

    def counted(m, planes):
        rows.add(len(m))
        return original(m, planes)

    monkeypatch.setattr(similarity, "_sign_buckets", counted)
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    df = similarity.embedding_neardup_lsh(
        clustered, threshold=0.8, dim=DIM, n_planes=8, n_tables=4,
        block=128, max_bucket_size=max_bucket_size,
    )
    assert df.count() > 0
    release(df)
    assert rows.value == clustered.count()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_lsh_gemm_verify_plan_has_no_catalyst_lambda(spark, clustered):
    """The whole LSH near-dup plan — sketch and per-pair verify — must
    plan no higher-order-function fold: buckets come from the Arrow
    sign-sketch kernel and candidate cosines from the packed-block
    NumPy engine (MapInPandas). The verify engine's own plan, from
    candidate pairs to cosines, is checked the same way."""
    from zensearch_spark.caching import release
    from zensearch_spark.operators.similarity import (
        embedding_neardup_lsh, verify_pairs_gemm,
    )

    def fmt(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    lsh_df = embedding_neardup_lsh(
        clustered, threshold=0.8, dim=DIM, n_planes=8, n_tables=4, block=128,
    )
    pairs = spark.createDataFrame(
        [(0, 25), (1, 26), (3, 128)], "vec_a long, vec_b long"
    )
    verify_df = verify_pairs_gemm(clustered, pairs, 0.8, block=128)
    for df in (lsh_df, verify_df):
        plan = fmt(df)
        release(df)
        assert "MapInPandas" in plan
        assert "zip_with" not in plan
        assert "aggregate(" not in plan


def test_verify_pairs_gemm_release_frees_cache(spark, clustered):
    """verify_pairs_gemm pins its persisted pack; caching.release must
    leave no cached RDDs behind (ADVICE r3 lifecycle contract)."""
    from zensearch_spark.caching import release
    from zensearch_spark.operators.similarity import verify_pairs_gemm

    exact = _np_exact_pairs(clustered, 0.8)
    # delta assertion: other modules' session-scoped fixtures may hold
    # their own caches — this test owns only what IT creates
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    pairs = spark.createDataFrame(
        [(a, b) for a, b, _ in exact], "vec_a long, vec_b long"
    )
    df = verify_pairs_gemm(clustered, pairs, threshold=0.8, block=128)
    got = {(r["vec_a"], r["vec_b"], r["cosine"]) for r in df.collect()}
    assert got == exact, "verify over the full exact pair list = exact result"
    during = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert during == before + 1, (before, during)
    release(df)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_gemm_matches_exact_pairs(spark, clustered):
    """Block-matrix GEMM engine returns exactly the NumPy reference's
    pairs and 6-dp cosines (block=128 → a real multi-block grid over
    the 500-vector fixture)."""
    from zensearch_spark.caching import release
    from zensearch_spark.operators.similarity import embedding_neardup_gemm

    thr = 0.8
    exact = sorted(_np_exact_pairs(clustered, thr))
    gemm_df = embedding_neardup_gemm(clustered, threshold=thr, block=128)
    gemm = sorted(
        (r["vec_a"], r["vec_b"], r["cosine"]) for r in gemm_df.collect()
    )
    release(gemm_df)
    assert len(exact) > 100
    assert gemm == exact


def test_batch_matches_single_probes(spark, clustered, clustered_sketch, ivf_index):
    """A batch (shared scan, per-batch partial top-k, driver merge) must
    return exactly the rows of each query's single probe, the one-query
    batch of the same operator — ANN, IVF and exact cosine alike. Both
    are eager local relations: their collect() runs no Spark job."""
    from zensearch_spark.operators.ivf import ivf_topk, ivf_topk_batch
    from zensearch_spark.operators.similarity import (
        ann_topk_batch, ann_topk_indexed, cosine_topk, cosine_topk_batch,
    )

    path, cent = ivf_index
    queries = [(vid, _qvec(clustered, vid), 10) for vid in (0, 7, 42)]
    for batch_of, single_of in (
        (lambda qs: ann_topk_batch(spark, clustered_sketch, qs),
         lambda q, k: ann_topk_indexed(spark, clustered_sketch, q, k=k)),
        (lambda qs: ivf_topk_batch(spark, spark.read.parquet(path), cent, qs, 4),
         lambda q, k: ivf_topk(spark, path, cent, q, k=k, nprobe=4)),
        (lambda qs: cosine_topk_batch(clustered, [(i, q) for i, q, _ in qs], 10),
         lambda q, k: cosine_topk(clustered, q, k=k)),
    ):
        rows, jobs = _jobs_run(spark, batch_of(queries).collect)
        assert jobs == 0
        for vid, q, k in queries:
            single, jobs = _jobs_run(spark, single_of(q, k).collect)
            assert jobs == 0 and len(single) == k
            assert [(r["vec_id"], r["cosine"]) for r in rows if r["query_id"] == vid] == [
                (r["vec_id"], r["cosine"]) for r in single], vid


@pytest.mark.parametrize("operator, request_kind, problem", [
    ("ann", "repeated_id", "query_id 1 appears more than once"),
    ("ann", "k_zero", "k must be >= 1"),
    ("ann", "k_negative", "k must be >= 1"),
    ("ann", "mixed_dims", "query_id 1: query vector has 32 dimensions, expected 64"),
    ("cosine", "repeated_id", "query_id 1 appears more than once"),
    ("cosine", "k_zero", "k must be >= 1"),
    ("cosine", "mixed_dims", "query_id 1: query vector has 32 dimensions, expected 64"),
    ("ivf", "repeated_id", "query_id 1 appears more than once"),
    ("ivf", "mixed_dims", "query_id 1: query vector has 32 dimensions, expected 64"),
    ("ivf", "wrong_dim", "query_id 0: query vector has 32 dimensions, expected 64"),
])
def test_bad_vector_batch_raises_before_any_job(
    spark, clustered, clustered_sketch, ivf_index, operator, request_kind, problem
):
    """A vector batch whose queries share an id (their candidates would
    be merged into one answer), whose k is below 1, or whose query
    vectors differ in length — or, for IVF, differ from the centroids'
    dimension — is refused on the driver with a ValueError naming the
    problem, before any Spark job; the text batch makes the same id and
    k checks."""
    from zensearch_spark.operators.ivf import ivf_topk_batch
    from zensearch_spark.operators.similarity import ann_topk_batch, cosine_topk_batch

    q1, q2 = _qvec(clustered, 0), _qvec(clustered, 1)
    path, cent = ivf_index
    cells = spark.read.parquet(path)  # its schema read is a job of its own
    request = {
        "repeated_id": [(1, q1, 3), (1, q2, 3)],
        "k_zero": [(0, q1, 3), (1, q2, 0)],
        "k_negative": [(0, q1, -1)],
        "mixed_dims": [(0, q1, 3), (1, q2[:32], 3)],
        "wrong_dim": [(0, q1[:32], 3)],
    }[request_kind]
    call = {
        "ann": lambda: ann_topk_batch(spark, clustered_sketch, request),
        "cosine": lambda: cosine_topk_batch(
            clustered, [(i, q) for i, q, _ in request], k=min(k for *_, k in request)),
        "ivf": lambda: ivf_topk_batch(spark, cells, cent, request, 4),
    }[operator]

    def refused():
        with pytest.raises(ValueError, match=problem):
            call()

    _, jobs = _jobs_run(spark, refused)
    assert jobs == 0


@pytest.mark.parametrize("operator", ["ann", "cosine"])
def test_wrong_dimension_names_both_dimensions(spark, clustered, clustered_sketch,
                                               operator):
    """Only the worker sees the data's dimension in the ANN and exact
    cosine operators: a query of another length fails there with a
    ValueError naming both dimensions."""
    from pyspark.errors import PythonException
    from zensearch_spark.operators.similarity import ann_topk_batch, cosine_topk_batch

    q = _qvec(clustered, 0)[:32]
    with pytest.raises(PythonException, match="ValueError: embedding has 64 dimensions, "
                       "the query vectors have 32"):
        if operator == "ann":
            ann_topk_batch(spark, clustered_sketch, [(0, q, 3)])
        else:
            cosine_topk_batch(clustered, [(0, q)], k=3)


def test_indexed_matches_numpy_ann(spark, clustered, clustered_sketch):
    """The persisted-sketch probe returns the rows of a NumPy pipeline
    written here from the planes alone: per-table sign buckets, the
    hamming-1 probe set around the query's bucket, candidates from ANY
    table, exact cosine re-rank by (cosine desc, vec_id asc), 6 dp."""
    from zensearch_spark.operators.similarity import (
        _planes, ann_topk_batch, ann_topk_indexed,
    )

    k, n_planes, n_tables, seed = 10, 8, 4, 42
    ids, m = _np_matrix(clustered)
    weights = 1 << np.arange(n_planes)
    want_of = {}
    for vid in (7, 99):
        q = np.asarray(_qvec(clustered, vid))
        cand = np.zeros(len(ids), dtype=bool)
        for t in range(n_tables):
            planes = _planes(DIM, n_planes, seed, t)
            rows = ((m @ planes.T) > 0) @ weights
            qb = int(((planes @ q) > 0) @ weights)
            flips = np.asarray([bin(int(b) ^ qb).count("1") for b in rows])
            cand |= flips <= 1
        cid, cm = ids[cand], m[cand]
        cos = (cm @ q) / (np.sqrt((cm * cm).sum(axis=1)) * np.sqrt(q @ q))
        top = np.lexsort((cid, -cos))[:k]
        want_of[vid] = want = [(int(cid[i]), float(np.round(cos[i], 6))) for i in top]
        got = [
            (r["vec_id"], r["cosine"])
            for r in ann_topk_indexed(spark, clustered_sketch, list(q), k=k).collect()
        ]
        assert got == want, vid
    # one batch: a vector probed through several tables still ranks once
    batch = ann_topk_batch(
        spark, clustered_sketch, [(vid, _qvec(clustered, vid), k) for vid in want_of]
    ).collect()
    for vid, want in want_of.items():
        assert [(r["vec_id"], r["cosine"]) for r in batch if r["query_id"] == vid] == want


def test_probe_buckets_rejects_unsupported_hamming():
    """Only 0, 1 and 2 bit flips are enumerated: a larger budget must
    fail loudly, not quietly return the hamming-2 set."""
    from zensearch_spark.operators.similarity import probe_buckets

    assert len(probe_buckets([1.0] * DIM, n_planes=8, probe_hamming=2)) == 37
    with pytest.raises(ValueError, match="probe_hamming"):
        probe_buckets([1.0] * DIM, n_planes=8, probe_hamming=3)


# ------------------------------------------------------------------ IVF


@pytest.fixture(scope="module")
def ivf_index(spark, clustered, tmp_path_factory):
    from zensearch_spark.operators.ivf import build_ivf_index, train_ivf_centroids

    cent = train_ivf_centroids(clustered, n_centroids=32, iters=8, seed=7)
    path = str(tmp_path_factory.mktemp("ivf") / "cells")
    _small_row_groups(spark, lambda: build_ivf_index(clustered, path, cent))
    return path, cent


def test_ivf_recall_clustered(spark, clustered, ivf_index):
    """IVF recall@10 ≥ 0.9 on clustered embeddings at nprobe=4 of 32
    cells (⅛ of the data scanned) — the coarse-quantizer twin of the
    LSH recall gate."""
    from zensearch_spark.operators.ivf import ivf_topk
    from zensearch_spark.operators.similarity import cosine_topk

    path, cent = ivf_index
    k = 10
    recalls = []
    for vid in (0, 7, 42, 99, 123):
        q = _qvec(clustered, vid)
        exact = {r["vec_id"] for r in cosine_topk(clustered, q, k=k).collect()}
        approx = {
            r["vec_id"]
            for r in ivf_topk(spark, path, cent, q, k=k, nprobe=4).collect()
        }
        recalls.append(len(exact & approx) / k)
    avg = sum(recalls) / len(recalls)
    assert avg >= 0.9, (avg, recalls)


def test_ivf_training_deterministic(spark, clustered):
    from zensearch_spark.operators.ivf import train_ivf_centroids

    a = train_ivf_centroids(clustered, n_centroids=16, iters=5, seed=3)
    b = train_ivf_centroids(clustered, n_centroids=16, iters=5, seed=3)
    np.testing.assert_array_equal(a, b)


def test_ivf_probe_prunes_partitions(spark, clustered, ivf_index):
    """Unprobed cells must not be read: ``centroid_id IN (...)`` must
    be a pushed filter, and on the (centroid_id, vec_id) sort order it
    must rule out row groups by their min/max statistics alone."""
    from zensearch_spark.operators.ivf import ivf_topk, probe_cells

    path, cent = ivf_index
    q = _qvec(clustered, 0)
    pushed = _pushed_filters(spark, lambda: ivf_topk(spark, path, cent, q, k=5, nprobe=3))
    assert "centroid_id" in pushed, pushed

    cells = probe_cells(cent, q, nprobe=3)
    groups = _row_group_stats(path, ["centroid_id"])
    matched = [
        g for g in groups
        if any(g["centroid_id"][0] <= c <= g["centroid_id"][1] for c in cells)
    ]
    assert 0 < len(matched) < len(groups), (len(matched), len(groups))


def test_probes_identical_through_file_uri(spark, clustered, clustered_sketch,
                                           ivf_index):
    """The probes name no directory and check no local path, so an
    index root given as a ``file://`` URI must return exactly the rows
    of the same root given as a bare path (a probe that silently
    returns zero rows off the local filesystem is the fault this
    guards against)."""
    from zensearch_spark.operators.ivf import ivf_topk
    from zensearch_spark.operators.similarity import ann_topk_batch, ann_topk_indexed

    q = _qvec(clustered, 7)
    queries = [(vid, _qvec(clustered, vid), 10) for vid in (0, 7, 42)]
    ivf_path, cent = ivf_index

    def rows(df):
        return [tuple(r) for r in df.collect()]

    for probe in (
        lambda root: ann_topk_indexed(spark, root, q, k=10),
        lambda root: ann_topk_batch(spark, root, queries),
    ):
        bare = rows(probe(clustered_sketch))
        assert len(bare) >= 10
        assert rows(probe(f"file://{clustered_sketch}")) == bare
    bare = rows(ivf_topk(spark, ivf_path, cent, q, k=10, nprobe=4))
    assert len(bare) == 10
    uri = rows(ivf_topk(spark, f"file://{ivf_path}", cent, q, k=10, nprobe=4))
    assert uri == bare


def test_ivf_training_layout_invariant(spark, clustered):
    """Centroids must not depend on file/partition layout even when
    the modulus-filtered sample exceeds max_sample (round-4 ADVICE:
    the cap was a bare distributed limit(), whose row choice follows
    partition enumeration order). The cap path is forced with
    max_sample < n_rows and exercised under three different layouts."""
    from zensearch_spark.operators.ivf import train_ivf_centroids

    kw = dict(n_centroids=8, iters=4, seed=11, max_sample=120)
    a = train_ivf_centroids(clustered, **kw)
    b = train_ivf_centroids(clustered.repartition(7), **kw)
    c = train_ivf_centroids(
        clustered.orderBy(F.desc("vec_id")).repartition(3), **kw
    )
    np.testing.assert_array_equal(a, b)
    np.testing.assert_array_equal(a, c)

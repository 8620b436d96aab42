from __future__ import annotations

import os
import sys
import uuid

import pytest

# row-group size for fixture indexes written by _small_row_groups: a few
# hundred rows then span several row groups instead of one, so pruning
# on the sort keys is visible at test scale
BLOCK_BYTES = 64 << 10

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from zensearch_spark.session import get_spark

    s = get_spark(app="zensearch-tests", cores=8, shuffle_partitions=8,
                  driver_mem=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    yield s


@pytest.fixture(scope="session")
def small_corpus_pdf():
    from zensearch_spark.sources.corpus import generate_transcripts_pandas

    return generate_transcripts_pandas(n_convs=200, seed=42)


def _small_row_groups(spark, build):
    """Run ``build`` with parquet row groups of ~BLOCK_BYTES."""
    spark.conf.set("parquet.block.size", str(BLOCK_BYTES))
    try:
        build()
    finally:
        spark.conf.unset("parquet.block.size")


def _jobs_run(spark, fn):
    """(fn(), number of Spark jobs started while it ran). The job group
    is unique per call: pytest may import this module a second time
    under another name, and a reused group id counts the old jobs."""
    sc = spark.sparkContext
    gid = f"zs-test-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def _pushed_filters(spark, fn) -> str:
    """The PushedFilters of the one parquet scan ``fn()`` ran, read from
    the physical plans of the SQL executions it started (the SQL status
    store keeps them with the UI off). An eager operator returns a
    local relation, whose own plan no longer holds the scan."""
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        ex = store.executionsList()
        return {ex.apply(i).executionId(): ex.apply(i) for i in range(ex.size())}

    before = set(executions())
    fn()
    plans = [e.physicalPlanDescription() for i, e in executions().items() if i not in before]
    # an adaptive plan lists its final and initial scan alike
    lines = {ln.strip() for p in plans for ln in p.splitlines() if "PushedFilters:" in ln}
    assert len(lines) == 1, plans
    return lines.pop().split("PushedFilters:", 1)[1].split(", ReadSchema:", 1)[0]


def _row_group_stats(path: str, cols: list[str]) -> list[dict]:
    """Per row group of every parquet file under ``path``, in file then
    row-group order: {col: (min, max)}."""
    import glob

    import pyarrow.parquet as pq

    out = []
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        md = pq.ParquetFile(f).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            out.append({
                c: (rg.column(names.index(c)).statistics.min,
                    rg.column(names.index(c)).statistics.max)
                for c in cols
            })
    return out

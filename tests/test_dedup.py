"""Dedup operators: plan-shape checks that the oracle entries cannot see."""

from __future__ import annotations


def test_simhash_kernel_evaluated_once(spark):
    """The SimHash Arrow kernel must run once per row: its
    ``simhash IS NOT NULL`` filter must not be pushed below the
    input's round-robin repartition as a second copy of the kernel
    (run before the exchange, on the un-split input)."""
    from zensearch_spark.operators.dedup import simhash_fingerprints

    texts = ["alpha beta gamma", "", "beta beta delta", "gamma alpha"]
    docs = spark.createDataFrame(
        [(i, texts[i % len(texts)]) for i in range(40)], "doc_id long, text string"
    ).repartition(4)
    df = simhash_fingerprints(docs, bits=32)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    got = sorted(r["doc_id"] for r in df.collect())
    assert got == [i for i in range(40) if texts[i % len(texts)]]

"""Observable WAND pruning evidence for PLANS.md (judge r3 item 5).

The batch evaluator's pruning story has two layers; this job measures
both on a real index instead of asserting them in prose:

1. SCAN pruning — the pruned block scan's formatted plan carries
   PushedFilters on term, and the blocks are flat parquet sorted by
   term, so the scan skips every row group whose term min/max range
   holds no query term;
2. DECODE pruning — inside each salt group, the MaxScore evaluator
   decodes only blocks that can change the top-k; blocks delivered by
   the scan but never decoded were skipped by block-max bounds. The
   blocks_total / blocks_decoded Spark accumulators
   (operators/wand.py evaluate_salt_group) count exactly that.

    python jobs/wand_pruning_stats.py [--index /dev/shm/zs_bench_idx_32]
        [--n-convs 12000] [--n-queries 50]

Builds the index (build_index skips every stage already committed with
the same fingerprint); prints one JSON line and the plan excerpt.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", default=None)
    ap.add_argument("--n-convs", type=int, default=12_000)
    ap.add_argument("--n-queries", type=int, default=50)
    ap.add_argument("--k-override", type=int, default=None,
                    help="force every query's k (the reference set asks "
                         "k≤100, which over a 107k-doc sandbox index is "
                         "~0.1%% of the corpus — θ stays low and little "
                         "can be skipped; at 10^12 docs the same k is "
                         "1e-8 of the corpus, the deep-θ regime)")
    ap.add_argument("--n-salt-ranges", type=int, default=64,
                    help="fewer ranges = deeper per-salt posting lists "
                         "= more blocks per (term, salt) — the regime "
                         "where block-max decode skipping engages "
                         "(at 10^12 turns every term is in it)")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from tests.oracle_bm25 import reference_query_set
    from zensearch_spark.plans.index_build import build_index
    from zensearch_spark.plans.query_plan import BM25Index
    from zensearch_spark.session import get_spark
    from zensearch_spark.sources.corpus import generate_transcripts

    spark = get_spark(app="zs-wand-pruning")
    scratch = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    root = args.index or os.path.join(
        scratch, f"zs_pruning_idx_s{args.n_salt_ranges}"
    )
    corpus = generate_transcripts(spark, args.n_convs, seed=42)
    build_index(spark, corpus, root,
                corpus_id=f"pruning:n_convs={args.n_convs}:seed=42",
                n_salt_ranges=args.n_salt_ranges)
    index = BM25Index(spark, root)

    qset = reference_query_set()[: args.n_queries]
    batch = [
        (q["query_id"], q["query_text"], args.k_override or q["k"])
        for q in qset
    ]
    counters = {
        "blocks_total": spark.sparkContext.accumulator(0),
        "blocks_decoded": spark.sparkContext.accumulator(0),
    }
    df = index.topk_batch(batch, counters=counters)
    # topk_batch returns the merged rows as a local relation; explain
    # the block scan it ran, under the same term predicate
    terms = sorted(r["term"] for r in index.term_rows(*[q for _, q, _ in batch]))
    scan = index._blocks.filter(F.col("term").isin(terms))
    plan = scan._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    n_rows = df.count()

    # scan-level context: total blocks in the index vs blocks the
    # pruned scan delivered to the evaluator
    blocks_all = index._blocks.count()
    total = counters["blocks_total"].value
    decoded = counters["blocks_decoded"].value
    out = {
        "index_docs": int(index.stats["n_docs"]),
        "n_queries": len(batch),
        "result_rows": int(n_rows),
        "blocks_in_index": int(blocks_all),
        "blocks_scanned": int(total),
        "blocks_decoded": int(decoded),
        "scan_prune_ratio": round(1.0 - total / blocks_all, 4),
        "decode_skip_ratio": round(1.0 - decoded / max(total, 1), 4),
    }
    # plan excerpt: the pruned block scan's filters
    for para in plan.split("\n\n"):
        if any("PushedFilters" in ln and "term" in ln for ln in para.splitlines()):
            keep = [
                ln.strip()
                for ln in para.splitlines()
                if any(k in ln for k in ("PushedFilters", "ReadSchema"))
            ]
            out["scan_plan"] = keep[:2]
            break
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()

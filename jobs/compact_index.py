"""CLI: fold streaming-ingest deltas into an existing index.

    python jobs/compact_index.py --index /path/idx \
        --landing /path/landing [--deltas /path/ingest_out/postings_delta]

Prints one JSON line: {"added": N, "n_docs": M, "generation": g, ...}.
See zensearch_spark/plans/compaction.py for semantics (LSM-style
minor compaction; the reference's crawl-while-serving analog).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--landing", required=True)
    ap.add_argument("--deltas", default=None,
                    help="postings_delta dir from streaming ingest "
                         "(optional — compaction re-tokenises otherwise)")
    ap.add_argument("--cores", type=int, default=None,
                    help="local cores (default: SPARK_GRAFT_CPUS, else "
                         "every CPU this process may run on)")
    args = ap.parse_args()

    from zensearch_spark.plans.compaction import compact_index
    from zensearch_spark.session import get_spark

    spark = get_spark(app="zs-compact", cores=args.cores)
    t0 = time.monotonic()
    out = compact_index(spark, args.index, args.landing, args.deltas)
    out["wall_sec"] = round(time.monotonic() - t0, 3)
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()

"""Generate a LARGE synthetic corpus mimicking the driver testdata's
shape, for scale timing only (bench.py with SPARK_GRAFT_SF_DIR pointed
at the output). NOT oracle data: correctness gates always run on the
original testdata dirs, which this script only reads (``--src``).

The driver's bonus-round measurement used a driver-generated sf1.0
(50k documents / 20k embeddings / 1M events / 6M lineitem). This
writes every table of ``--src`` ``--mult`` times over, with the
source's exact schemas (float32 embeddings, int32 labels, microsecond
timestamps) and an independent seed — the content is new, timings
are comparable, results are not gamed:

- documents: fresh texts over the source vocabulary, lengths, langs
  and sources resampled from the source rows; no trailing space;
- embeddings: gaussian vectors of the source's dimension, labels
  drawn from the source's label range;
- events: mult× rows over mult× users in the source's 30-day window,
  (event_type, value, props) resampled from the source rows;
- lineitem / orders / customer / part / supplier: replicated; replica
  i adds i·(base max key + 1) to every key of the orderkey, custkey,
  partkey and suppkey domains (both sides of each join), so every key
  stays unique and each key's fan-out equals the source's. nation and
  region are copied once.

Usage: python jobs/gen_scale_corpus.py [--src DIR (default: SRC)]
       [--out /tmp/sfbig] [--mult 10]
"""

from __future__ import annotations

import argparse
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
WINDOW_US = 30 * 24 * 3600 * 10**6
# join-key domains: replica i shifts every column of a domain by the
# same i·offset, so joins stay within a replica
KEY_DOMAINS = {
    "orderkey": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "custkey": [("customer", "c_custkey"), ("orders", "o_custkey")],
    "partkey": [("part", "p_partkey"), ("lineitem", "l_partkey")],
    "suppkey": [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
}


def _write(tbl: pa.Table, src: pa.Table, path: str) -> None:
    pq.write_table(tbl.select(src.schema.names).cast(src.schema), path)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default=SRC)
    ap.add_argument("--out", default="/tmp/sfbig")
    ap.add_argument("--mult", type=int, default=10)
    args = ap.parse_args(argv)
    os.makedirs(args.out, exist_ok=True)
    rng = np.random.default_rng(20260822)
    m = args.mult

    def read(name: str) -> pa.Table:
        return pq.read_table(f"{args.src}/{name}.parquet")

    # ---- documents: fresh texts, same vocab / length / lang / source mix
    base = read("documents")
    words_of = [t.split() for t in base["text"].to_pylist()]
    voc = np.array(sorted({w for ws in words_of for w in ws}))
    n_docs = len(base) * m
    pick = rng.integers(0, len(base), n_docs)
    lens = np.array([len(ws) for ws in words_of])[pick]
    words = voc[rng.integers(0, len(voc), int(lens.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[a:b]) for a, b in zip(bounds[:-1], bounds[1:])]
    rows = base.take(pick)
    _write(pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rows["lang"],
        "source": rows["source"],
        "n_chars": np.array([len(t) for t in texts], np.int64),
    }), base, f"{args.out}/documents.parquet")

    # ---- embeddings: gaussian, the source's dimension and label range
    base = read("embeddings")
    n_emb = len(base) * m
    dim = len(base["embedding"][0])
    lo, hi = pc.min_max(base["label"]).values()
    emb = rng.standard_normal((n_emb, dim)).astype(np.float32)
    _write(pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), dim).cast(
            pa.list_(pa.float32())),
        "label": rng.integers(lo.as_py(), hi.as_py() + 1, n_emb).astype(np.int32),
    }), base, f"{args.out}/embeddings.parquet")

    # ---- events: m x rows over m x users, in the source's 30-day window
    base = read("events")
    n_ev = len(base) * m
    ts0 = np.datetime64(pc.min(base["ts"]).as_py(), "D").astype("datetime64[us]")
    ts = ts0 + np.sort(rng.integers(0, WINDOW_US, n_ev)).astype("timedelta64[us]")
    n_users = (pc.max(base["user_id"]).as_py() + 1) * m
    rows = base.take(rng.integers(0, len(base), n_ev))
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rows["event_type"],
        "value": rows["value"],
        "props": rows["props"],
    }), base, f"{args.out}/events.parquet")

    # ---- TPC-H-ish: replicate with per-domain key offsets
    tables = {n: read(n) for n in ("lineitem", "orders", "customer", "part", "supplier")}
    offsets: dict[tuple[str, str], int] = {}
    for cols in KEY_DOMAINS.values():
        off = max(pc.max(tables[t][c]).as_py() for t, c in cols) + 1
        offsets.update({col: off for col in cols})
    for name, t in tables.items():
        parts = []
        for i in range(m):
            cols = {
                col: (pc.add(t[col], i * offsets[(name, col)])
                      if (name, col) in offsets else t[col])
                for col in t.schema.names
            }
            parts.append(pa.table(cols))
        _write(pa.concat_tables(parts), t, f"{args.out}/{name}.parquet")

    for name in ("region", "nation"):
        src = f"{args.src}/{name}.parquet"
        if os.path.exists(src):
            pq.write_table(pq.read_table(src), f"{args.out}/{name}.parquet")

    print(f"[gen] wrote mult={m} corpus from {args.src} to {args.out}", file=sys.stderr)


if __name__ == "__main__":
    main()

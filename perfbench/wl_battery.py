"""``battery``: the 43 ``__spark_entry__.queries()`` operators.

Set-up: session start. The input is the repository's reference test
tables (``perfbench/tables/sf0.01``, the tables the oracle tests read),
copied untimed into the run's scratch root, so the ANN/IVF caches the
program keys by data dir are this run's own. The seed does not change
the input. Timed, in wall and CPU time (``common.Clock``):
``ensure_ann_index`` + ``ensure_ivf_index`` from scratch
(``ann_prep_s``), then each entry once, its result fetched to the
driver as Arrow and its pinned intermediates released. Checked
afterwards: each entry's rows against its DuckDB ``oracle_sql()`` the
way jobs/verify_oracle.py compares them; ``ivf_topk`` has no oracle and
is reported as unchecked.
"""

from __future__ import annotations

import glob
import math
import os
import shutil
import statistics
import sys

from common import Clock, remove

TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables")
SF = {"full": "sf0.01", "tiny": "sf0.001"}
BATTERY_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

FAMILIES = {
    "search": ["bm25_topk", "grouped_topk", "bm25_quirks_compat",
               "presentation_guard", "term_stats", "tf_table", "doc_length",
               "avgdl"],
    "dedup": ["exact_dedup", "ngram_jaccard", "minhash_lsh", "simhash",
              "fingerprints"],
    "vector": ["cosine_topk", "ann_topk", "ann_topk_batch", "ann_recall",
               "ivf_topk", "ivf_recall", "emb_neardup", "emb_neardup_gemm"],
    "text": ["lang_stopword", "quality", "bpe_count", "redact_pii",
             "url_parse", "link_extract", "multimodal_meta"],
}


def family(name: str) -> str:
    for fam, names in FAMILIES.items():
        if name in names:
            return fam
    return "relational"


def layer_names() -> list[str]:
    """The per-layer metrics a traced run of this workload reports."""
    import __spark_entry__ as entry

    return [
        "session.start_s", "similarity.ann_build_s", "ivf.ivf_build_s",
        "spark.executor_run_ms", "spark.executor_cpu_ms", "spark.python_ms",
        *(f"spark.{k}.{f}" for f in (*FAMILIES, "relational")
          for k in ("executor_run_ms", "shuffle_bytes")),
        *(f"battery.{n}_s" for n in entry.queries()),
    ]


def _ann_caches(sf_dir: str) -> list[str]:
    """The cache dirs ``ensure_ann_index`` / ``ensure_ivf_index`` keep
    for ``sf_dir`` (they key them by the data dir path)."""
    tag = sf_dir.strip("/").replace("/", "_")
    return [
        p for scratch in ("/dev/shm", "/tmp")
        for pat in (f"zs_ann_sketch_mt4_{tag}_*", f"zs_ivf_{tag}_*")
        for p in glob.glob(os.path.join(scratch, pat))
    ]


def _canon(df) -> list[tuple]:
    """Order- and float-noise-free rows (as jobs/verify_oracle.py)."""
    df = df[sorted(df.columns)]

    def norm(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else round(v, 6)
        if hasattr(v, "isoformat"):
            return v.isoformat()
        return v

    return sorted((tuple(norm(v) for v in row) for row in df.itertuples(index=False)), key=repr)


def _geomean(values) -> float:
    """Every entry weighs the same, and a burst of noise on one entry
    moves the result by 1/43 of its log, where the median would be one
    entry's value."""
    return math.exp(statistics.fmean(math.log(v) for v in values))


def run(r):
    import duckdb

    import __spark_entry__ as entry
    from zensearch_spark.caching import release

    spark, tr, probe = r.spark, r.tracer, r.probe

    # ---- set-up (untimed) -------------------------------------------------
    sf_dir = os.path.join(r.work, "tables")
    shutil.copytree(os.path.join(TABLES, SF[r.size]), sf_dir)
    setup_s = r.session_s

    # ---- timed: index prep, then every entry -------------------------------
    for p in _ann_caches(sf_dir):
        remove(p)
    prep: dict[str, Clock] = {}
    try:
        for name, fn in (("similarity.ann_build", entry.ensure_ann_index),
                         ("ivf.ivf_build", entry.ensure_ivf_index)):
            with Clock() as prep[name]:
                if tr is None:
                    fn(spark, sf_dir)
                else:
                    with tr.span(name, request=name), probe.group(name):
                        fn(spark, sf_dir)

        clocks: dict[str, Clock] = {}
        results = {}
        for name, fn in entry.queries().items():
            with Clock() as clocks[name]:
                try:
                    if tr is None:
                        df = fn(spark, sf_dir)
                        results[name] = df.toArrow()
                    else:
                        with tr.span(f"battery.{name}", request=name), probe.group(name):
                            df = fn(spark, sf_dir)
                            results[name] = df.toArrow()
                    release(df)
                except Exception as e:  # counted as failed below, battery goes on
                    print(f"[perfbench] entry {name} raised {e!r}", file=sys.stderr)
    finally:
        for p in _ann_caches(sf_dir):
            remove(p)

    # ---- checks (untimed) ---------------------------------------------------
    con = duckdb.connect()
    for t in BATTERY_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = entry.oracle_sql()
    unchecked = []
    for name in clocks:
        if name not in results:
            r.check(False, f"{name}: raised")
            continue
        if name not in oracles:
            unchecked.append(name)
            continue
        got = results[name].to_pandas()
        want = con.execute(oracles[name]).fetchdf()
        r.check(
            sorted(got.columns) == sorted(want.columns)
            and len(got) == len(want) and _canon(got) == _canon(want),
            f"{name}: {len(got)} rows differ from the DuckDB oracle ({len(want)} rows)",
        )
    con.close()
    if unchecked:
        print(f"[perfbench] unchecked (no oracle): {', '.join(unchecked)}", file=sys.stderr)

    walls = {n: c.wall for n, c in clocks.items()}
    cpus = {n: c.cpu for n, c in clocks.items()}
    fam_s = {f: 0.0 for f in (*FAMILIES, "relational")}
    for name, w in walls.items():
        fam_s[family(name)] += w
    battery_s = sum(walls.values())
    battery_cpu_s = sum(cpus.values())
    ann_prep_s = sum(c.wall for c in prep.values())
    ann_prep_cpu_s = sum(c.cpu for c in prep.values())
    report = {
        "setup_s": (setup_s, "s"),
        "ann_prep_s": (ann_prep_s, "s"),
        "battery_s": (battery_s, "s"),
        **{f"battery_{f}_s": (v, "s") for f, v in fam_s.items()},
        "entry_geomean_ms": (_geomean(walls.values()) * 1e3, "ms"),
        "ann_prep_cpu_s": (ann_prep_cpu_s, "s"),
        "battery_cpu_s": (battery_cpu_s, "s"),
        "entries_unchecked": (len(unchecked), "count"),
    }
    end_to_end = {
        "setup_s": setup_s,
        "op_cpu_ms": _geomean(cpus.values()) * 1e3,
        "ops_per_cpu_s": len(cpus) / battery_cpu_s,
        "work_cpu_s": ann_prep_cpu_s + battery_cpu_s,
    }
    layers = {
        "session.start_s": r.session_s,
        "similarity.ann_build_s": prep["similarity.ann_build"].wall,
        "ivf.ivf_build_s": prep["ivf.ivf_build"].wall,
        **{f"battery.{n}_s": w for n, w in walls.items()},
    }
    if tr is not None:
        total = probe.metrics(*walls)
        for k in ("executor_run_ms", "executor_cpu_ms", "python_ms"):
            layers[f"spark.{k}"] = total[k]
        for f in fam_s:
            m = probe.metrics(*(n for n in walls if family(n) == f))
            layers[f"spark.executor_run_ms.{f}"] = m["executor_run_ms"]
            layers[f"spark.shuffle_bytes.{f}"] = float(m["shuffle_write_bytes"])
    return end_to_end, report, layers

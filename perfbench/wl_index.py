"""``index``: the inverted-index engine end to end — the indexer's
write path and the search user's read path over one seeded corpus.

Set-up (untimed): session start; the seeded corpus materialized to
parquet.

Timed, in order, each region in wall and CPU time (``common.Clock``):
1. one full ``build_index`` (fresh root, default salting);
2. serving: a resident ``BM25Index(cache_blocks=True)`` (the
   jobs/serve.py shape) is opened and pinned by a warm-up batch
   (set-up, not timed), then one client runs a closed loop,
   alternating single-query requests and batched requests: ``WARMUP``
   untimed requests, then ``--seconds`` of timed ones;
3. traced runs only, after everything else: the append folded in,
   ``stream_ingest_postings`` over the landing dir, then
   ``compact_index`` (left out of untraced runs to fit the run budget).

Checked afterwards: dense doc ids 0..n-1 after the build; every answer
rank-identical to ``tests/oracle_bm25.OracleIndex`` over the same
corpus (same doc ids in the same order, scores equal to 1e-9); after
compaction, ``n_docs`` = base + appended.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import time

import numpy as np

from common import Clock, dir_bytes

N_CONVS = {"full": 1000, "tiny": 120}
BATCH = {"full": 50, "tiny": 10}
APPEND_FRAC = 0.1
# untimed requests (half single-query, half batched) between the pin and
# the timed loop: the first requests after the pin still cost the JVM
# code generation and JIT compilation of the serving path
WARMUP = 2
# the CPU-time metrics pool the first POOLED timed requests of each kind,
# so that every run prices the same requests at the same point of the
# JVM's warm-up; a faster run would otherwise add later, cheaper ones
POOLED = 5
STAGES = ("doc_map", "postings", "term_dict", "blocks", "doc_lens")


def layer_names() -> list[str]:
    """The per-layer metrics a traced run of this workload reports."""
    return [
        "session.start_s", "query_plan.open_s", "query_plan.term_rows_ms",
        "wand.plan_ms", "spark.jobs_per_request", "spark.tasks_per_request",
        "spark.shuffle_bytes", "wand.collect_ms", "spark.executor_run_ms",
        "spark.executor_cpu_ms", "spark.python_ms", "wand.kernel_ms",
        "wand.blocks_scanned", "wand.blocks_decoded", "wand.decode_frac",
        *(f"index_build.{s}_s" for s in STAGES),
        "index_build.executor_run_ms", "spark.shuffle_write_bytes",
        "spark.spill_bytes",
        *(f"index_build.{s}_bytes" for s in STAGES),
        "compaction.delta_bytes", "ingest.stream_s", "compaction.compact_s",
    ]


# ------------------------------------------------------------------ build
def _traced_stages(r):
    """Wrap the public ``stage_*`` functions of plans/index_build so
    that ``build_index`` (unchanged) runs each one inside a span and
    its own job group. Returns the restore callback."""
    import zensearch_spark.plans.index_build as ib

    originals = {s: getattr(ib, f"stage_{s}") for s in STAGES}

    def wrap(stage, fn):
        def traced(*args, **kwargs):
            with r.tracer.span(f"index_build.{stage}"), r.probe.group(f"build.{stage}"):
                return fn(*args, **kwargs)
        return traced

    for s, fn in originals.items():
        setattr(ib, f"stage_{s}", wrap(s, fn))
    return lambda: [setattr(ib, f"stage_{s}", fn) for s, fn in originals.items()]


def _build(r, corpus, root: str, n_convs: int) -> Clock:
    from zensearch_spark.plans.index_build import build_index

    corpus_id = f"perfbench-index-{r.seed}-{n_convs}"
    if r.tracer is None:
        with Clock() as c:
            build_index(r.spark, corpus, root, corpus_id=corpus_id)
        return c
    restore = _traced_stages(r)
    try:
        with Clock() as c, r.tracer.span("build_index", request="build"), r.probe.group("build"):
            build_index(r.spark, corpus, root, corpus_id=corpus_id)
    finally:
        restore()
    return c


# ------------------------------------------------------------------ serve
def _queries(seed: int, n: int) -> list[tuple[str, int]]:
    """The six query kinds and k ∈ {1, 10, 100} of the reference query
    set, drawn from the corpus' own seeded vocabulary."""
    from tests.oracle_bm25 import reference_query_set

    return [(q["query_text"], q["k"]) for q in reference_query_set(seed=seed, n_queries=n)]


def _oracle(corpus_pdf):
    """Oracle over the same corpus; doc ids are the (conv_id,
    turn_idx) rank, as the index assigns them."""
    from tests.oracle_bm25 import OracleIndex

    pdf = corpus_pdf.sort_values(["conv_id", "turn_idx"])
    return OracleIndex(list(range(len(pdf))), pdf["text"].tolist())


def _same(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    return len(got) == len(want) and all(
        gd == wd and math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-12)
        for (gd, gs), (wd, ws) in zip(got, want)
    )


def _traced_kernel(r):
    """Wrap ``operators.wand.evaluate_salt_group`` so that every call
    the cogroup makes in the Python workers adds its wall (ms) to an
    accumulator. ``wand_topk_batch`` resolves the name when it ships
    its UDF, so the wrapper travels with each request planned while it
    is in place. Returns the accumulator and the restore callback."""
    import zensearch_spark.operators.wand as wand

    original = wand.evaluate_salt_group
    acc = r.spark.sparkContext.accumulator(0.0)

    def timed(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return original(*args, **kwargs)
        finally:
            acc.add((time.perf_counter() - t0) * 1e3)

    wand.evaluate_salt_group = timed
    return acc, lambda: setattr(wand, "evaluate_salt_group", original)


def _serve(r, idx, stream, bsz: int) -> list:
    """The closed loop; returns [(batch, rows | None, Clock, layers)].

    Single-query requests walk the stream from the end of the warm-up
    slice on, so successive ones cycle through the six query kinds (a
    query's kind is its stream position mod 6) and every run sends the
    same mix; batched requests take consecutive slices from the
    stream's second half."""
    tr, probe, spark = r.tracer, r.probe, r.spark
    if tr is not None:
        term_rows = idx.term_rows

        def traced_term_rows(*queries):
            with tr.span("query_plan.term_rows"):
                return term_rows(*queries)

        idx.term_rows = traced_term_rows
        kernel_ms, restore_kernel = _traced_kernel(r)

    requests = []
    cursor = {1: bsz, bsz: len(stream) // 2}
    deadline = math.inf
    # the timed loop starts after the warm-up requests and has at least
    # POOLED requests of each kind, however slow the host
    while time.perf_counter() < deadline or len(requests) < WARMUP + 2 * POOLED:
        if len(requests) == WARMUP:
            deadline = time.perf_counter() + r.seconds
        n = 1 if len(requests) % 2 == 0 else bsz
        batch = [(i, *stream[(cursor[n] + i) % len(stream)]) for i in range(n)]
        cursor[n] += n
        rid = f"req{len(requests)}"
        lay: dict[str, float] = {}
        with Clock() as clock:
            try:
                if tr is None:
                    rows = idx.topk_batch(batch).collect()
                else:
                    sc = spark.sparkContext
                    kernel0 = kernel_ms.value
                    with tr.span("request", request=rid), probe.group(rid):
                        acc = {"blocks_total": sc.accumulator(0),
                               "blocks_decoded": sc.accumulator(0)}
                        with tr.span("wand.plan"):
                            df = idx.topk_batch(batch, counters=acc)
                        with tr.span("wand.collect"):
                            rows = df.collect()
            except Exception as e:  # counted as a failed request; the loop goes on
                rows = None
                print(f"[perfbench] request {rid} raised {e!r}", file=sys.stderr)
        if tr is not None and rows is not None:
            spans = {s.name: s.end - s.start for s in tr.spans if s.request == rid}
            lay = {f"spark.{k}": v for k, v in probe.metrics(rid).items()}
            lay.update({
                "query_plan.term_rows_ms": spans.get("query_plan.term_rows", 0.0) * 1e3,
                "wand.plan_ms": spans["wand.plan"] * 1e3,
                "wand.collect_ms": spans["wand.collect"] * 1e3,
                "wand.blocks_scanned": acc["blocks_total"].value,
                "wand.blocks_decoded": acc["blocks_decoded"].value,
                "wand.kernel_ms": kernel_ms.value - kernel0,
            })
        requests.append((batch, rows, clock, lay))
    if tr is not None:
        del idx.term_rows
        restore_kernel()
        # the request's span tree against the latency the loop measured
        own = tr.self_times()
        for i, (batch, _, clock, _) in enumerate(requests):
            mine = [s for s in tr.spans if s.request == f"req{i}"]
            r.extra.setdefault("requests", []).append({
                "request": f"req{i}", "queries": len(batch),
                "latency_ms": clock.wall * 1e3,
                "self_ms": {s.name: own[s.sid] * 1e3 for s in mine},
            })
        covered = sum(sum(q["self_ms"].values()) for q in r.extra["requests"])
        measured = sum(q["latency_ms"] for q in r.extra["requests"])
        print(f"# request span self-times sum to {covered / measured:.4%} "
              f"of the measured request latency")
    return requests


def _check_answers(r, requests, oracle) -> None:
    memo: dict[tuple[str, int], list] = {}
    for batch, rows, _, _ in requests:
        if rows is None:
            r.check(False, f"request of {len(batch)} queries raised")
            continue
        got: dict[int, list] = {}
        for row in rows:
            got.setdefault(row["query_id"], []).append((row["doc_id"], row["score"]))
        ok = True
        for qid, text, k in batch:
            want = memo.get((text, k))
            if want is None:
                want = memo[(text, k)] = oracle.score_query(text, k)
            ok = ok and _same(got.get(qid, []), want)
        r.check(ok, f"request {batch[:2]}... not rank-identical to the oracle")


def _serve_layers(requests) -> dict[str, float]:
    """Per-layer medians over requests: single-query requests for the
    latency-side layers, batched requests for the throughput side."""
    one = [lay for b, _, _, lay in requests if len(b) == 1 and lay]
    many = [lay for b, _, _, lay in requests if len(b) > 1 and lay]
    out = {}
    for name, key, src in (
        ("query_plan.term_rows_ms", "query_plan.term_rows_ms", one),
        ("wand.plan_ms", "wand.plan_ms", one),
        ("spark.jobs_per_request", "spark.jobs", one),
        ("spark.tasks_per_request", "spark.tasks", one),
        ("spark.shuffle_bytes", "spark.shuffle_write_bytes", one),
        ("wand.collect_ms", "wand.collect_ms", many),
        ("spark.executor_run_ms", "spark.executor_run_ms", many),
        ("spark.executor_cpu_ms", "spark.executor_cpu_ms", many),
        ("spark.python_ms", "spark.python_ms", many),
        ("wand.kernel_ms", "wand.kernel_ms", many),
        ("wand.blocks_scanned", "wand.blocks_scanned", many),
        ("wand.blocks_decoded", "wand.blocks_decoded", many),
    ):
        out[name] = float(np.median([lay[key] for lay in src])) if src else 0.0
    scanned = sum(lay["wand.blocks_scanned"] for lay in many)
    decoded = sum(lay["wand.blocks_decoded"] for lay in many)
    out["wand.decode_frac"] = decoded / scanned if scanned else 0.0
    return out


# ------------------------------------------------------------------ append
def _append(r, root: str, new_pdf, n_base: int) -> tuple[dict, dict]:
    """Traced runs only: the append lands, ``stream_ingest_postings``
    turns it into posting deltas and ``compact_index`` folds them into
    the index. Returns (report lines, layers)."""
    from zensearch_spark.plans.compaction import compact_index
    from zensearch_spark.sources.corpus import TRANSCRIPT_SCHEMA
    from zensearch_spark.streaming.ingest import stream_ingest_postings

    spark, tr = r.spark, r.tracer
    landing = os.path.join(r.work, "landing")
    stream_out = os.path.join(r.work, "ingest")
    spark.createDataFrame(new_pdf, TRANSCRIPT_SCHEMA).write.parquet(landing)
    with tr.span("ingest.stream", request="append") as ingest:
        stream_ingest_postings(spark, landing, stream_out)
    dirs_before = set(os.listdir(root))
    with tr.span("compaction.compact", request="append") as compact:
        res = compact_index(spark, root, landing, os.path.join(stream_out, "postings_delta"))
    n_new = len(new_pdf)
    r.check(
        res.get("n_docs") == n_base + n_new and res.get("added") == n_new,
        f"after compaction n_docs={res.get('n_docs')} added={res.get('added')}, "
        f"expected {n_base + n_new} and {n_new}",
    )
    ingest_s, compact_s = ingest.end - ingest.start, compact.end - compact.start
    report = {
        "compact_turns_per_s": (n_new / (ingest_s + compact_s), "turns/s"),
        "appended_turns": (n_new, "count"),
    }
    layers = {
        "ingest.stream_s": ingest_s,
        "compaction.compact_s": compact_s,
        "compaction.delta_bytes": float(sum(
            dir_bytes(os.path.join(root, d)) for d in set(os.listdir(root)) - dirs_before
        )),
    }
    return report, layers


# -------------------------------------------------------------------- run
def run(r):
    from pyspark.sql import functions as F

    from zensearch_spark.plans.query_plan import BM25Index
    from zensearch_spark.sources.corpus import TRANSCRIPT_SCHEMA, generate_transcripts_pandas

    spark, tr = r.spark, r.tracer
    n_convs, bsz = N_CONVS[r.size], BATCH[r.size]
    n_append = max(1, int(n_convs * APPEND_FRAC))
    root = os.path.join(r.work, "index")

    # ---- set-up -----------------------------------------------------------
    # the corpus, and the append: the next n_append conversations of the
    # same seeded generator (fresh conv ids, same vocabulary). The
    # oracle scores the same pandas frame the corpus is written from.
    corpus_dir = os.path.join(r.work, "corpus")
    t0 = time.perf_counter()
    pdf = generate_transcripts_pandas(n_convs + n_append, seed=r.seed)
    base_pdf = pdf[pdf["conv_id"] < f"c{n_convs:08d}"]
    new_pdf = pdf[pdf["conv_id"] >= f"c{n_convs:08d}"]
    spark.createDataFrame(base_pdf, TRANSCRIPT_SCHEMA).write.parquet(corpus_dir)
    materialize_s = time.perf_counter() - t0
    corpus = spark.read.parquet(corpus_dir)
    n_base = len(base_pdf)

    # ---- timed: full build --------------------------------------------------
    build = _build(r, corpus, root, n_convs)
    stage_bytes = {s: dir_bytes(os.path.join(root, s)) for s in STAGES}
    index_bytes = dir_bytes(root)
    ids = spark.read.parquet(os.path.join(root, "doc_map")).agg(
        F.count("*").alias("n"), F.countDistinct("doc_id").alias("d"),
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"),
    ).collect()[0]
    r.check(
        ids["n"] == n_base and ids["d"] == n_base and ids["lo"] == 0 and ids["hi"] == n_base - 1,
        f"doc ids not dense 0..{n_base - 1}: {ids.asDict()}",
    )

    # ---- serving: open + pin (set-up), then the timed closed loop -----------
    stream = _queries(r.seed, 4000)
    warm = [(i, q, k) for i, (q, k) in enumerate(stream[:bsz])]
    t0 = time.perf_counter()
    idx = BM25Index(spark, root, cache_blocks=True)
    idx.topk_batch(warm).collect()
    open_s = time.perf_counter() - t0
    setup_s = r.session_s + materialize_s + open_s
    requests = _serve(r, idx, stream, bsz)
    spark.catalog.clearCache()

    # ---- checks (untimed) ----------------------------------------------------
    _check_answers(r, requests, _oracle(base_pdf))

    timed = [(b, c) for b, rows, c, _ in requests[WARMUP:] if rows is not None]
    singles = [c for b, c in timed if len(b) == 1]
    batched = [(len(b), c) for b, c in timed if len(b) > 1]
    # wall: medians over requests, so that a stall that hits one of them
    # does not move them; CPU time does not grow in a stall, so it is
    # pooled over the first POOLED timed requests of a kind
    qps = statistics.median([n / c.wall for n, c in batched])
    query_cpu_ms = statistics.fmean([c.cpu for c in singles[:POOLED]]) * 1e3
    queries_per_cpu_s = (sum(n for n, _ in batched[:POOLED])
                         / sum(c.cpu for _, c in batched[:POOLED]))
    text_bytes = int(base_pdf["text"].str.encode("utf-8").str.len().sum())
    report = {
        "setup_s": (setup_s, "s"),
        "query_p50_ms": (statistics.median([c.wall for c in singles]) * 1e3, "ms"),
        "query_p90_ms": (np.percentile([c.wall for c in singles], 90) * 1e3, "ms"),
        "query_samples": (len(singles), "count"),
        "batch_qps": (qps, "q/s"),
        "batch_requests": (len(batched), "count"),
        "build_turns_per_s": (n_base / build.wall, "turns/s"),
        "index_bytes_per_text_byte": (index_bytes / text_bytes, "ratio"),
        "base_turns": (n_base, "count"),
        "query_cpu_ms": (query_cpu_ms, "ms"),
        "batch_queries_per_cpu_s": (queries_per_cpu_s, "q/cpu_s"),
        "build_cpu_s": (build.cpu, "s"),
    }
    end_to_end = {
        "setup_s": setup_s,
        "op_cpu_ms": query_cpu_ms,
        "ops_per_cpu_s": queries_per_cpu_s,
        "work_cpu_s": build.cpu,
    }
    layers = {
        "session.start_s": r.session_s,
        "query_plan.open_s": open_s,
        **{f"index_build.{s}_bytes": float(b) for s, b in stage_bytes.items()},
    }
    if tr is not None:
        for s in tr.spans:
            if s.name.startswith("index_build."):
                layers[f"{s.name}_s"] = s.end - s.start
        m = r.probe.metrics("build", *(f"build.{s}" for s in STAGES))
        layers["index_build.executor_run_ms"] = m["executor_run_ms"]
        layers["spark.shuffle_write_bytes"] = float(m["shuffle_write_bytes"])
        layers["spark.spill_bytes"] = float(m["spill_bytes"])
        layers.update(_serve_layers(requests[WARMUP:]))
        # last, so that it moves no end-to-end metric of the run
        append_report, append_layers = _append(r, root, new_pdf, n_base)
        report.update(append_report)
        layers.update(append_layers)
    return end_to_end, report, layers

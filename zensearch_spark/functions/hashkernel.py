"""Arrow-batched token-hash kernels (round-6 optimization, guide §4.2).

The gram-key / winnowing / SimHash family previously ran as Catalyst
higher-order-function chains: per-token md5 → conv() inside nested
``transform``/``aggregate`` lambdas, all interpreted (HOFs do not
participate in whole-stage codegen), and the md5 of every token was
recomputed once per half and once per consuming subtree. These
kernels move the per-row integer algebra to NumPy inside a pandas
UDF and — the bigger lever on real text — memoize the md5 halves PER
DISTINCT TOKEN within each Arrow batch (natural-language batches
repeat tokens heavily; the driver corpus has a 31-word vocabulary, so
a 131k-row batch pays ~31 md5 calls instead of ~7M).

Bit-for-bit parity: the algebra is the SAME 62-bit integer scheme as
dedup._gram_key_arrays / text.doc_fingerprints documented against the
DuckDB oracles — md5 hex split into two 60-bit halves mod P, rolling
polynomial per half, key = poly1·P + poly2. hashlib.md5 ≡ JVM md5 ≡
DuckDB md5 on the same UTF-8 bytes, and every product stays under
2^62 (exact in int64). Tokenization is str.lower().split() — the
documented pandas twin of the JVM tokenizer (functions/tokenizer.py),
identical on the ASCII whitespace these corpora contain.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


def _halves(memo: dict, toks: list[str], p: int):
    """(h1, h2) int64 arrays: md5-derived 60-bit halves mod p per
    token, memoized per distinct token across the whole batch."""
    L = len(toks)
    h1 = np.empty(L, np.int64)
    h2 = np.empty(L, np.int64)
    for i, t in enumerate(toks):
        v = memo.get(t)
        if v is None:
            hx = hashlib.md5(t.encode("utf-8")).hexdigest()
            v = (int(hx[:15], 16) % p, int(hx[15:30], 16) % p)
            memo[t] = v
        h1[i] = v[0]
        h2[i] = v[1]
    return h1, h2


def _window_keys(h1, h2, n: int, c1: int, c2: int, p: int):
    """Rolling-polynomial keys of every n-token window (vectorized
    across window positions; len(h1) must be >= n)."""
    W = len(h1) - n + 1
    a1 = h1[:W].copy()
    a2 = h2[:W].copy()
    for j in range(1, n):
        a1 *= c1
        a1 += h1[j:j + W]
        a1 %= p
        a2 *= c2
        a2 += h2[j:j + W]
        a2 %= p
    return a1 * p + a2


def make_gram_keys_udf(n: int, c1: int, c2: int, p: int,
                       num_hashes: int = 0,
                       coeffs: list[tuple[int, int]] | None = None):
    """pandas UDF text -> struct(gks: array<long>[, sig: array<long>]).

    ``gks`` = DISTINCT n-gram rolling-poly keys (empty array when the
    doc has < n tokens, so the doc adds no exploded gram rows). When
    ``num_hashes`` > 0, ``sig`` = the MinHash signature min_i over
    ((((gk>>31)^gk) % p)·a_i + b_i) % p computed from the SAME key
    set (null when the gram set is empty — such docs produce no
    signature rows, exactly like the groupBy over zero exploded
    rows)."""
    fields = [T.StructField("gks", T.ArrayType(T.LongType()), False)]
    if num_hashes:
        A = np.asarray([a for a, _ in coeffs], np.int64)[:, None]
        B_ = np.asarray([b for _, b in coeffs], np.int64)[:, None]
        fields.append(T.StructField("sig", T.ArrayType(T.LongType()), True))

    @pandas_udf(T.StructType(fields))
    def gram_keys(texts: pd.Series) -> pd.DataFrame:
        memo: dict = {}
        gks_out: list = []
        sig_out: list = []
        for txt in texts:
            toks = (txt or "").lower().split()
            if len(toks) < n:
                gks_out.append(np.empty(0, np.int64))
                sig_out.append(None)
                continue
            h1, h2 = _halves(memo, toks, p)
            keys = np.unique(_window_keys(h1, h2, n, c1, c2, p))
            gks_out.append(keys)
            if num_hashes:
                gm = (np.right_shift(keys, 31) ^ keys) % p
                sig_out.append(((gm[None, :] * A + B_) % p).min(axis=1))
        data = {"gks": gks_out}
        if num_hashes:
            data["sig"] = sig_out
        return pd.DataFrame(data)

    return gram_keys


def make_min_shingle_udf(shingle: int, c1: int, c2: int, p: int):
    """pandas UDF text -> long: winnowing minimum over the rolling
    window keys; docs shorter than ``shingle`` fold ALL tokens into
    one key (acc starts at 0), empty docs key to 0 — digit-for-digit
    the text.doc_fingerprints / _fingerprints_sql algebra."""

    @pandas_udf(T.LongType())
    def min_shingle(texts: pd.Series) -> pd.Series:
        memo: dict = {}
        out: list[int] = []
        for txt in texts:
            toks = (txt or "").lower().split()
            h1, h2 = _halves(memo, toks, p)
            if len(toks) >= shingle:
                out.append(int(_window_keys(h1, h2, shingle, c1, c2, p).min()))
            else:
                f1 = 0
                f2 = 0
                for v1, v2 in zip(h1.tolist(), h2.tolist()):
                    f1 = (f1 * c1 + v1) % p
                    f2 = (f2 * c2 + v2) % p
                out.append(f1 * p + f2)
        return pd.Series(out, dtype="int64")

    return min_shingle


def make_stopcount_udf(stopwords: list[str]):
    """pandas UDF text -> struct(n_tokens int, n_stop int): token and
    stopword-occurrence counts (same str.lower().split() tokenizer
    twin; the caller derives the rounded fraction in JVM so float
    behavior is unchanged)."""
    stopset = frozenset(stopwords)
    schema = T.StructType(
        [
            T.StructField("n_tokens", T.IntegerType(), False),
            T.StructField("n_stop", T.IntegerType(), False),
        ]
    )

    @pandas_udf(schema)
    def stopcount(texts: pd.Series) -> pd.DataFrame:
        n_out = []
        s_out = []
        for txt in texts:
            toks = (txt or "").lower().split()
            n_out.append(len(toks))
            s_out.append(sum(1 for t in toks if t in stopset))
        return pd.DataFrame({"n_tokens": n_out, "n_stop": s_out})

    return stopcount


def make_simhash_udf(bits: int):
    """pandas UDF text -> long: token-frequency-weighted SimHash over
    the 60-bit md5 ints (NO mod-P here — mirrors the oracle's
    __spark_entry__._MD5_INT).
    Null for token-less docs (they produce no exploded rows in the
    aggregation shape, so they are absent from the result)."""
    shifts = np.arange(bits, dtype=np.int64)

    @pandas_udf(T.LongType())
    def simhash(texts: pd.Series) -> pd.Series:
        memo: dict = {}
        out: list = []
        for txt in texts:
            toks = (txt or "").lower().split()
            if not toks:
                out.append(None)
                continue
            votes = np.zeros(bits, np.int64)
            for t in toks:
                row = memo.get(t)
                if row is None:
                    hv = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
                    row = np.where((hv >> shifts) & 1 == 1, 1, -1).astype(np.int64)
                    memo[t] = row
                votes += row
            out.append(int(np.sum((votes > 0).astype(np.int64) << shifts)))
        return pd.Series(out, dtype="Int64")

    return simhash

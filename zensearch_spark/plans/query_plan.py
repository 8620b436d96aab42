"""Query-side plan: broadcast term dictionary → pruned block scan →
block-max top-k → hydration (SURVEY.md §3 "ours" lifecycle).

The reference ships the ENTIRE corpus to the scorer on every query
(reference: database/src/database.ts:93-104 + the RabbitMQ hops in
§3); here a query touches only the term_dict rows and the block row
groups of its own terms (the blocks are flat parquet sorted by term,
so the pushed ``term IN (...)`` filter skips row groups by their
min/max statistics), then ≤ salt_groups·k candidate rows move to the
driver-side final top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zensearch_spark.catalog import read_table
from zensearch_spark.functions.tokenizer import tokenize_query
from zensearch_spark.operators.topk import check_queries
from zensearch_spark.operators.wand import wand_topk_batch
from zensearch_spark.plans.index_build import IndexPaths


class BM25Index:
    """Handle over a built index (plans/index_build.py layout)."""

    # above this vocabulary size the dictionary stays distributed and
    # every batch pays one filtered collect; below it, one full load
    # serves every subsequent query from driver memory
    TERM_CACHE_MAX = 5_000_000

    def __init__(self, spark: SparkSession, root: str, cache_blocks: bool = False):
        """``cache_blocks=True`` pins the blocks table and the doc_len
        sidecar in executor memory for a long-lived serving session,
        both hash-partitioned by salt into the same ``n = min(salts,
        defaultParallelism)`` partitions and sorted within each by
        (salt, term) and (salt, first_doc). That is the salt cogroup's
        required distribution and ordering, so a request plans no
        Exchange and no Sort: one Spark job of ``n`` tasks, nothing
        shuffled. The first request pays the one shuffle that fills the
        cache, so a one-shot job keeps the default: read the files and
        let the cogroup shuffle its pruned slice (three jobs)."""
        self.spark = spark
        self.paths = IndexPaths.load(root)
        self.stats = self.paths.stats
        # each table may span several segments (base build + delta
        # compactions), all flat parquet dirs read as one table
        self._blocks = spark.read.parquet(*self.paths.blocks_paths())
        self._doc_lens = spark.read.parquet(*self.paths.doc_lens_paths())
        self._cached: list[DataFrame] = []
        if cache_blocks:
            # salt = doc_id // stride over ids below the high-watermark
            next_id = int(self.stats.get("next_doc_id", self.stats["n_docs"]))
            n_salts = -(-next_id // int(self.stats["stride"]))
            n = max(1, min(n_salts, spark.sparkContext.defaultParallelism))
            self._blocks = (
                self._blocks.repartition(n, "salt")
                .sortWithinPartitions("salt", "term")
                .cache()
            )
            self._doc_lens = (
                self._doc_lens.repartition(n, "salt")
                .sortWithinPartitions("salt", "first_doc")
                .cache()
            )
            self._cached = [self._blocks, self._doc_lens]
        self._bounds_exact = bool(self.stats.get("bounds_exact", True))
        self._term_dict = read_table(spark, self.paths.term_dict_path())
        self._term_cache: dict[str, tuple[int, float]] | None = None
        self._term_cache_tried = False

    def release(self) -> None:
        """Unpersist every table this handle cached."""
        for df in self._cached:
            df.unpersist()
        self._cached = []

    def _load_term_cache(self) -> dict[str, tuple[int, float]] | None:
        if self._term_cache_tried:
            return self._term_cache
        self._term_cache_tried = True
        import json
        import os

        manifest = os.path.join(self.paths.root, "_manifests", "term_dict.json")
        n_terms = None
        if os.path.exists(manifest):
            with open(manifest) as f:
                parts = json.load(f)["partitions"]
            # a summary-only lineage (huge stage, rows unknown) must
            # NOT read as "0 terms" and wrongly enable the cache
            if all(p.get("rows") is not None for p in parts):
                n_terms = sum(p["rows"] for p in parts)
        if n_terms is not None and n_terms <= self.TERM_CACHE_MAX:
            pdf = self._term_dict.toPandas()
            self._term_cache = {
                t: (int(d), float(i))
                for t, d, i in zip(pdf["term"], pdf["df"], pdf["idf"])
            }
        return self._term_cache

    # -- the broadcast dictionary: driver cache or tiny collect ----------
    def term_rows(self, *queries: str) -> list[dict]:
        terms = sorted({t for q in queries for t in tokenize_query(q)})
        if not terms:
            return []
        cache = self._load_term_cache()
        if cache is not None:
            return [
                {"term": t, "df": cache[t][0], "idf": cache[t][1]}
                for t in terms
                if t in cache
            ]
        rows = (
            self._term_dict.filter(F.col("term").isin(terms))
            .select("term", "df", "idf")
            .collect()
        )
        return [r.asDict() for r in rows]

    def topk(self, query: str, k: int) -> DataFrame:
        """(doc_id, score) — block-max pruned exact top-k."""
        return self.topk_batch([(0, query, k)]).select("doc_id", "score")

    def topk_batch(
        self, queries: list[tuple[int, str, int]], counters: dict | None = None
    ) -> DataFrame:
        """(query_id, doc_id, score) for a whole query set as one
        request — the throughput path (decoded blocks shared across
        queries within each salt group). Eager: the Spark work runs in
        this call and the result is a local relation. ``counters``:
        optional {"blocks_total", "blocks_decoded"} Spark accumulators
        for block-skipping evidence. A repeated query_id or a k below 1
        raises ValueError before any Spark job runs."""
        check_queries(queries)
        return wand_topk_batch(
            self.spark,
            self._blocks,
            self._doc_lens,
            self.term_rows(*[q for _, q, _ in queries]),
            queries,
            avgdl=float(self.stats["avgdl"]),
            bounds_exact=self._bounds_exact,
            counters=counters,
        )

    def grouped_topk(
        self, query: str, k: int = 100, per_conv: int = 3
    ) -> DataFrame:
        """Per-conversation result grouping (SURVEY M7): the global
        top-k hits, grouped by conversation — conversations ranked by
        their best hit, at most ``per_conv`` hits shown per
        conversation (the grouped rendering a transcript-search UI
        wants; the reference renders a flat list). Returns (conv_id,
        turn_idx, doc_id, score, rn) ordered by (best-hit score desc,
        conv_id, rn). Window.partitionBy("conv_id") over ≤k rows — the
        grouping costs one tiny shuffle AFTER the pruned WAND top-k,
        never a corpus-sized one."""
        from pyspark.sql import Window

        top = self.topk(query, k)
        doc_map = self.spark.read.parquet(*self.paths.doc_map_paths()).select(
            "doc_id", "conv_id", "turn_idx"
        )
        w = Window.partitionBy("conv_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        wc = Window.partitionBy("conv_id")
        return (
            doc_map.join(F.broadcast(top), "doc_id")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= per_conv)
            .withColumn("conv_best", F.max("score").over(wc))
            .orderBy(F.desc("conv_best"), F.asc("conv_id"), F.asc("rn"))
            .select("conv_id", "turn_idx", "doc_id", "score", "rn")
        )

    def topk_hydrated(self, query: str, k: int) -> DataFrame:
        """Top-k joined back to the transcript turns — the analog of
        the reference's rendered result list (express-server/src/app/
        index.ts:186-197), but truly top-k (the reference renders the
        full corpus ranking; its .slice(0,10) is commented out)."""
        top = self.topk(query, k)
        doc_map = self.spark.read.parquet(*self.paths.doc_map_paths())
        hydrate_cols = [c for c in ("conv_id", "turn_idx", "role", "text", "tool", "ts")
                        if c in doc_map.columns]
        return (
            doc_map.join(F.broadcast(top), "doc_id")
            .select("doc_id", "score", *hydrate_cols)
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )

    def naive_topk(self, query: str, k: int) -> DataFrame:
        """Always-correct cross-check path over the raw doc_map."""
        from zensearch_spark.functions.tokenizer import with_tokens
        from zensearch_spark.operators.naive_scorer import naive_topk

        doc_map = self.spark.read.parquet(*self.paths.doc_map_paths())
        docs = doc_map.select(
            "doc_id", with_tokens("text").alias("tokens"), "doc_len"
        )
        return naive_topk(
            docs, query, k,
            n_docs=int(self.stats["n_docs"]),
            avgdl=float(self.stats["avgdl"]),
        )

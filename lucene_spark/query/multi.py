"""MultiIndexSearcher — the composite-reader model.

Lucene searches several sub-indexes as one through ``MultiReader``
(``core/index/MultiReader.java:33``) over an ``IndexSearcher`` whose
term/collection statistics come from the TOP-LEVEL composite
(``IndexSearcher.java:1134-1149``: ``termStatistics`` sums docFreq across
leaves, ``collectionStatistics`` sums docCount/sumTotalTermFreq), while
matching and per-doc values (tf, norm) stay leaf-local and docIDs re-base
by each leaf's cumulative ``docBase``. The practical shape at corpus
scale: one logical search over N index generations (daily builds, tiered
storage) without re-merging them.

Spark-first translation: one ``IndexSearcher`` per sub-index, constructed
with the COMPOSITE (doc_count, sum_ttf) so every leaf's BM25 weights use
global avgdl/doc_count; every term clause carries ``df_override`` = the
df summed across leaves (the ``TermStates`` build over the top reader);
each leaf returns its local exact top-k and the k-way merge
(``TopDocs.merge`` analog) re-sorts the union — exact, because a leaf's
global top-k members are necessarily in that leaf's local top-k.

Scores are IDENTICAL to a single index built over the concatenated corpus
(same weights by construction, per-doc facts are local), which is exactly
the reference's contract — and what the dual-execution oracle asserts.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucene_spark.index.build import collection_stats, load_manifest
from lucene_spark.query.ast import (
    BooleanQuery,
    BoostQuery,
    MatchAllDocsQuery,
    MatchNoDocsQuery,
    Query,
    TermQuery,
    rewrite_fixpoint,
)
from lucene_spark.query.local import empty_hits
from lucene_spark.query.search import IndexSearcher


class MultiIndexSearcher:
    def __init__(self, spark: SparkSession, index_dirs: list[str],
                 k1: float | None = None, b: float | None = None,
                 similarity: str | object | None = None):
        if not index_dirs:
            raise ValueError("need at least one index")
        self.spark = spark
        self.index_dirs = list(index_dirs)
        # pass 1: composite collection statistics from the manifests alone
        counts, ttfs = [], []
        for d in self.index_dirs:
            m = load_manifest(d)
            if m is None or not m.get("merged"):
                raise ValueError(f"{d}: index not built+merged")
            dc, st = collection_stats(m)
            counts.append(dc)
            ttfs.append(st)
        self.doc_count = int(sum(counts))
        self.sum_ttf = int(sum(ttfs))
        #: docBase per leaf (MultiReader's starts[]): cumulative doc_count
        self.doc_bases = [int(x) for x in np.cumsum([0] + counts[:-1])]
        # pass 2: leaves scored with the COMPOSITE stats
        self.leaves = [
            IndexSearcher(spark, d, k1=k1, b=b, similarity=similarity,
                          _stats_override=(self.doc_count, self.sum_ttf))
            for d in self.index_dirs
        ]

    def term_stats(self, terms: list[str]) -> dict[str, tuple[int, int]]:
        """Composite (df, ttf) per term — sums across leaves
        (``IndexSearcher.termStatistics`` over a composite reader), from
        each leaf's driver-side term_dict lookup; no Spark job. (Each
        leaf's own weight computation still reads its term_dict when it
        scores; the composite df rides in on df_override.)"""
        out: dict[str, tuple[int, int]] = {}
        for leaf in self.leaves:
            for t, (df, ttf) in leaf.term_stats(terms).items():
                d0, t0 = out.get(t, (0, 0))
                out[t] = (d0 + df, t0 + ttf)
        return out

    def docmap(self) -> DataFrame:
        """Union of leaf docmaps with docIDs re-based by docBase."""
        parts = [
            leaf.docmap().withColumn(
                "doc_id", F.col("doc_id") + F.lit(base).cast("long"))
            for leaf, base in zip(self.leaves, self.doc_bases)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _override_dfs(self, q: Query, stats: dict) -> Query:
        if isinstance(q, TermQuery):
            st = stats.get(q.term)
            return TermQuery(q.term, df_override=st[0]) if st else q
        if isinstance(q, BoostQuery):
            return BoostQuery(self._override_dfs(q.query, stats), q.boost)
        if isinstance(q, BooleanQuery):
            return BooleanQuery(
                [self._override_dfs(c, stats) for c in q.must],
                [self._override_dfs(c, stats) for c in q.should],
                [self._override_dfs(c, stats) for c in q.filter],
                [self._override_dfs(c, stats) for c in q.must_not],
                q.min_should_match,
            )
        if isinstance(q, (MatchAllDocsQuery, MatchNoDocsQuery)):
            return q
        raise ValueError(
            "MultiIndexSearcher executes flat Term/Boolean/MatchAll "
            f"queries; got {type(q).__name__}"
        )

    def _terms_of(self, q: Query) -> list[str]:
        if isinstance(q, TermQuery):
            return [q.term]
        if isinstance(q, BoostQuery):
            return self._terms_of(q.query)
        if isinstance(q, BooleanQuery):
            out: list[str] = []
            for c in q.must + q.should + q.filter + q.must_not:
                out.extend(self._terms_of(c))
            return out
        return []

    def search(self, query: Query, k: int = 10) -> DataFrame:
        """Exact composite top-k: per-leaf exact top-k under composite
        weights, docIDs re-based, k-way merged (score desc, doc asc) —
        ``TopDocs.merge`` semantics. DF(doc_id long, score float)."""
        q = rewrite_fixpoint(query)
        if isinstance(q, MatchNoDocsQuery):
            return empty_hits(self.spark)
        stats = self.term_stats(sorted(set(self._terms_of(q))))
        q = self._override_dfs(q, stats)
        parts = []
        for leaf, base in zip(self.leaves, self.doc_bases):
            hits = leaf.search(q, k).withColumn(
                "doc_id", F.col("doc_id") + F.lit(base).cast("long"))
            parts.append(hits)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(int(k))

    def count(self, query: Query) -> int:
        """Composite match count (Weight#count over each leaf, summed)."""
        q = rewrite_fixpoint(query)
        return sum(leaf.count(q) for leaf in self.leaves)

"""IndexSearcher: top-k BM25 execution over the merged index tables.

Spark-first re-expression of the reference's search lifecycle (public Apache
Lucene source, semantics only — ``IndexSearcher.java:576-852``):

  rewrite fixpoint -> multi-term expansion against term_dict -> global stats
  (CollectionStatistics/TermStatistics summed over segments,
  ``IndexSearcher.java:1119-1149``) -> weight per clause (boost * idf,
  ``BM25Similarity.java:244-252``) -> postings scan + vectorized decode/score
  -> per-doc clause aggregation (``BooleanScorerSupplier`` scorer-tree analog)
  -> ``ORDER BY score DESC, doc_id ASC LIMIT k`` (TopScoreDocCollector +
  HitQueue.java:76-80 tie-break, exact by construction).

Physical plan (the part that must survive 100 TB):
  - ONE postings scan per query level serves every leaf clause: the scan
    pushes ``term_bucket IN (...) AND term IN (...)`` down to parquet
    (partition pruning + row-group min/max on the sorted term column), the
    Arrow UDF decodes blocks and scores all clauses of that term in one pass.
  - clause combination is a single groupBy(doc_id) with conditional
    aggregates — no per-clause joins, no driver-side iteration. Shuffle
    volume = matched postings only.
  - exhaustive scoring + exact sort is rank-identical to the reference
    because every Lucene pruning mechanism (WAND, block-max, MAXSCORE) is
    score-safe (SURVEY.md §4); block-max pruning is a pure optimization here
    (impact metadata is in the table, see prune_blocks).
  - below ``IndexSearcher.LOCAL_POSTINGS_MAX`` postings, term and flat
    Boolean queries skip Spark entirely: the same blocks are read, decoded,
    scored and combined on the driver (``query/local.py``), with identical
    results and no job.

Every Lucene pruning trick being score-safe also means: this plan's results
are *identical* at any parallelism, which is what makes the N -> 4N scaling
criterion meaningful.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucene_spark.functions import bm25
from lucene_spark.index.build import collection_stats, load_manifest
from lucene_spark.index.merge import term_bucket_of
from lucene_spark.query import local
from lucene_spark.query.ast import (
    BlendedTermQuery,
    BooleanQuery,
    BoostQuery,
    ConstantScoreQuery,
    DisjunctionMaxQuery,
    FieldEqualsQuery,
    FieldRangeQuery,
    FuzzyQuery,
    MatchAllDocsQuery,
    MatchNoDocsQuery,
    MultiPhraseQuery,
    PhraseQuery,
    PrefixQuery,
    Query,
    RegexpQuery,
    SpanNearQuery,
    SynonymQuery,
    TermInSetQuery,
    TermQuery,
    TermRangeQuery,
    WildcardQuery,
    rewrite_fixpoint,
)

_CLAUSE_SCHEMA = "clause_id int, doc_id long, score float"


class TooManyClauses(RuntimeError):
    """Multi-term expansion exceeded max_clause_count — the reference's
    ``IndexSearcher.TooManyClauses`` guard (``IndexSearcher.java:80``
    maxClauseCount=1024, enforced at ``:898``). Raised only on the
    clause-materializing (scoring-Boolean) rewrite; the join-based path never
    materializes clauses and has no cap, like Lucene's filter rewrites."""


def _f32(col):
    return col.cast("float")


def _combine_req_opt(n_must: int, n_should: int, msm: int, must_s, should_s):
    """Combine required/optional double-sum accumulators with the reference's
    exact float boundaries (scorer-tree semantics, NOT one flat double sum):

      - required-only (ConjunctionScorer.java:57-63): (float) double-sum.
      - optional-only (DisjunctionSumScorer.java:40-46 / WANDScorer): same.
      - required + optional, msm == 0 (ReqOptSumScorer.java:242-258):
        ``float score = req; score += opt;`` — a FLOAT32 addition of the two
        float-cast sums. (double-add of two exact f32 values then f32-cast
        is bit-identical to the f32 addition.)
      - required + optional, msm > 0: the SHOULD group becomes a required
        WAND sub-scorer — its float-cast sum joins the conjunction's DOUBLE
        sum (BooleanScorerSupplier.java:546-553 -> ConjunctionScorer).
    """
    if n_should == 0:
        if n_must == 0:
            # pure filter/must_not query: no scoring clause at all — the
            # reference's BooleanWeight emits constant 0.0f scores (filter
            # clauses never contribute score). must_s is NULL here (sum
            # over zero rows), which would surface as NaN.
            return _f32(F.lit(0.0))
        return _f32(must_s)
    if n_must == 0:
        # filters (if any) contribute no score; absent should-sum means the
        # optional side simply didn't match -> 0
        return _f32(F.coalesce(should_s, F.lit(0.0)))
    if msm > 0:
        return _f32(
            must_s + _f32(F.coalesce(should_s, F.lit(0.0))).cast("double")
        )
    return _f32(
        _f32(must_s).cast("double")
        + _f32(F.coalesce(should_s, F.lit(0.0))).cast("double")
    )


_DYN_REPLAY_SCHEMA = (
    "kind int, seq long, count long, weight long, vmin long, vmax long, "
    "avg double, s_count string, s_accu string, s_vsum string, s_vmin string")


def _replay_dynamic_segment(runs, pid, target, count, accu, vsum, vmin):
    """Replay the DynamicRangeUtil greedy over ONE range-segment of the
    cached run table EXECUTOR-side (``facet_dynamic_ranges`` step 3): a
    single-segment job whose task receives the carried scan state, runs
    the identical per-run arithmetic (``ceil((target-accu)/w)`` elements
    at a time), and returns the completed ranges plus the carry-out —
    <= topN + 1 rows to the driver, never the segment's runs.

    State ints travel as STRINGS (exact: python-int sums of longs can
    exceed int64 — the reference accumulates in a long and would overflow
    too, but the driver replay must match its own absorbed-segment
    python-int arithmetic bit-for-bit). Returns (ranges, carry_out)."""
    state_in = (count, accu, vsum, vmin)

    def replay(batches):
        import math

        cnt, acc, vs, vm = state_in
        seq = 0
        rows = []
        seen = False
        for pdf in batches:
            if pdf.empty:
                continue
            seen = True
            vv = pdf["v"].to_numpy()
            ww = pdf["w"].to_numpy()
            nn = pdf["n"].to_numpy()
            for i in range(len(vv)):
                v, w, n = int(vv[i]), int(ww[i]), int(nn[i])
                while n > 0:
                    if vm is None:
                        vm = v
                    if w > 0 and acc < target:
                        need = math.ceil((target - acc) / w)
                        take = min(n, max(int(need), 1))
                    else:
                        # zero-weight elements can never reach the
                        # target — they all join the current range (the
                        # reference scans past them without emitting)
                        take = n if w == 0 else 1
                    cnt += take
                    acc += take * w
                    vs += take * v
                    n -= take
                    if acc >= target:
                        rows.append((0, seq, cnt, acc, vm, v, vs / cnt,
                                     None, None, None, None))
                        seq += 1
                        cnt = acc = vs = 0
                        vm = None
        if seen:
            rows.append((1, seq, None, None, None, None, None,
                         str(cnt), str(acc), str(vs),
                         "" if vm is None else str(vm)))
        if rows:
            yield pd.DataFrame(rows, columns=[
                "kind", "seq", "count", "weight", "vmin", "vmax", "avg",
                "s_count", "s_accu", "s_vsum", "s_vmin"])

    out = (
        runs.withColumn("pid", F.spark_partition_id())
        .filter(F.col("pid") == int(pid))
        .drop("pid")
        .mapInPandas(replay, schema=_DYN_REPLAY_SCHEMA)
        .collect()
    )
    ranges = []
    state = state_in
    for r in sorted(out, key=lambda r: (r["kind"], r["seq"])):
        if r["kind"] == 0:
            ranges.append((int(r["count"]), int(r["weight"]),
                           int(r["vmin"]), int(r["vmax"]), float(r["avg"])))
        else:
            state = (int(r["s_count"]), int(r["s_accu"]), int(r["s_vsum"]),
                     None if r["s_vmin"] == "" else int(r["s_vmin"]))
    return ranges, state


@dataclass
class _Clause:
    clause_id: int
    kind: str  # must | should | filter | must_not
    term: str
    weight: np.float32


class IndexSearcher:
    """Searcher over a built+merged index directory."""

    #: cap on materialized multi-term expansions (IndexSearcher.java:80)
    max_clause_count: int = 1024

    def __init__(self, spark: SparkSession, index_dir: str,
                 k1: float | None = None, b: float | None = None,
                 similarity: str | object | None = None,
                 include_soft_deletes: bool = False,
                 _stats_override: tuple[int, int] | None = None):
        """``k1``/``b`` expose the BM25Similarity constructor parameters
        (``BM25Similarity.java:97``); ``similarity`` selects the full
        pluggable-Similarity surface (``Similarity.java:98-164``): "bm25"
        (default), "classic" (ClassicSimilarity TF-IDF), "boolean"
        (BooleanSimilarity), or a duck-typed scorer object. Every query
        path scores through ``self.sim``; the score-bound pruning paths
        (``search_pruned``/``search_term_pruned``) are BM25-only and raise
        for other similarities (the exhaustive plan is always exact)."""
        self.spark = spark
        self.index_dir = index_dir
        manifest = load_manifest(index_dir)
        if manifest is None or not manifest.get("merged"):
            raise ValueError(f"{index_dir}: index not built+merged")
        self.manifest = manifest
        self.buckets = int(manifest["config"]["term_buckets"])
        # _stats_override: composite (doc_count, sum_ttf) injected by
        # MultiIndexSearcher so this leaf's weights use TOP-LEVEL statistics
        # (IndexSearcher.java:1134-1149 computes stats over the top reader,
        # never per leaf)
        #: the leaf's own docID-space size — physical facts (Weight#count,
        #: docID probe spans) use this even under composite stats
        self.local_doc_count, _local_ttf = collection_stats(manifest)
        self.doc_count, self.sum_ttf = (
            _stats_override if _stats_override is not None
            else (self.local_doc_count, _local_ttf)
        )
        self.avgdl = bm25.avgdl(self.sum_ttf, self.doc_count)
        from lucene_spark.functions.similarity import make_similarity

        self.sim = make_similarity(similarity, self.avgdl, k1, b,
                                   doc_count=self.doc_count,
                                   sum_ttf=self.sum_ttf)
        self.k1 = getattr(self.sim, "k1", np.float32(bm25.K1_DEFAULT))
        self.b = getattr(self.sim, "b", np.float32(bm25.B_DEFAULT))
        #: BM25 norm-inverse cache; None for non-BM25 similarities (the
        #: impact upper-bound machinery derives from this closed form)
        self.cache = getattr(self.sim, "cache", None)
        #: highest COMMITTED segment id — reads below filter to it so a
        #: staged-but-uncommitted segment (an in-flight append/update's
        #: published rows, or a crashed one's leftovers) is invisible:
        #: readers see exactly the manifest's commit point (the
        #: SegmentInfos contract; segment ids are assigned sequentially)
        self.max_segment_id = max(int(k) for k in manifest["completed"])
        self.postings = (
            spark.read.parquet(os.path.join(index_dir, "postings"))
            .filter(F.col("segment_id") <= self.max_segment_id))
        self.term_dict = spark.read.parquet(os.path.join(index_dir, "term_dict"))
        self._docmap: DataFrame | None = None
        self._positions: DataFrame | None = None
        #: tombstone deletes (PendingDeletes analog): stats keep counting
        #: deleted docs until merge (reference semantics), results drop
        #: them. Soft tombstones (soft_delete_docs) are excluded the same
        #: way unless this reader opts into seeing them —
        #: ``include_soft_deletes=True`` is the reference's UNwrapped
        #: reader (no SoftDeletesDirectoryReaderWrapper)
        self.include_soft_deletes = bool(include_soft_deletes)
        self.has_deletes = bool(manifest.get("has_deletes")) or (
            bool(manifest.get("has_soft_deletes"))
            and not self.include_soft_deletes)
        self._deletes_df: DataFrame | None = None
        self._deletes_ids: np.ndarray | None = None

    #: above this many tombstones the anti-join falls back from broadcast
    #: (driver+executor copies of the whole set) to a shuffle anti-join —
    #: ~16 MB of long ids; a merge/expunge is still the right answer once
    #: deletes grow large, but search must not OOM before the caller gets
    #: around to it
    BROADCAST_DELETES_MAX = 2_000_000

    #: term and flat-Boolean queries whose distinct terms hold at most this
    #: many postings (term_dict doc_freq summed) run on the driver
    #: (``query/local.py``) and launch no Spark job. At local[4] the driver
    #: still beat Spark at 850k postings (BENCH.md); the bound stays well
    #: below that because the driver decodes on one core while Spark's
    #: decode scales with the cluster's.
    LOCAL_POSTINGS_MAX = 1 << 18

    #: smallest docID prefix/suffix the sorted early-termination probes
    #: (below this the fixed per-job overhead dominates any saved decode)
    SORTED_PROBE_MIN_SPAN = 4096

    def _tombstones(self) -> np.ndarray | None:
        """Sorted tombstoned doc ids of this searcher's commit point (an
        empty array when it has none), or None when there are more than
        BROADCAST_DELETES_MAX. Resolved once per searcher, together with
        ``_deletes_df`` for Spark plans; the ids are read on the driver and
        their count decided from the parquet footers, so no Spark job runs.

        The PINNED manifest names the tombstone set: this searcher sees its
        own commit point's deletes, never later or staged-uncommitted ones
        (liveDocs-per-commit semantics). Soft tombstones join the set
        unless this reader opted into them (include_soft_deletes)."""
        if self.has_deletes and self._deletes_df is None:
            from lucene_spark.index.deletes import (
                read_tombstone_ids, tombstone_dirs,
            )

            dirs = tombstone_dirs(self.index_dir, self.manifest,
                                  include_soft=not self.include_soft_deletes)
            if dirs:
                # an explicit schema: inferring it runs a Spark job
                self._deletes_df = (self.spark.read.schema("doc_id long")
                                    .parquet(*dirs).distinct())
                self._deletes_ids = read_tombstone_ids(
                    dirs, self.BROADCAST_DELETES_MAX)
            else:
                self.has_deletes = False
        if not self.has_deletes:
            return np.zeros(0, dtype=np.int64)
        ids = self._deletes_ids
        if ids is None or ids.size > self.BROADCAST_DELETES_MAX:
            return None
        return ids

    def _live(self, df: DataFrame | None) -> DataFrame | None:
        """Anti-join tombstoned docs out of a (doc_id, ...) frame. Small
        tombstone sets broadcast; large ones shuffle anti-join so no single
        executor materializes the full set."""
        if df is None:
            return df
        small = self._tombstones() is not None
        if not self.has_deletes:
            return df
        dead = F.broadcast(self._deletes_df) if small else self._deletes_df
        return df.join(dead, "doc_id", "left_anti")

    # ------------------------------------------------------------ stats

    def term_stats(self, terms: list[str]) -> dict[str, tuple[int, int]]:
        """term -> (doc_freq, total_term_freq), absent terms omitted.

        TermStatistics summed over segments (TermQuery.java:64-82), read
        on the driver with no Spark job (``_term_dict_rows``)."""
        return {t: v[:2] for t, v in self._term_dict_rows(terms).items()}

    def _term_dict_rows(self, terms: list[str]
                        ) -> dict[str, tuple[int, int, int]]:
        """term -> (doc_freq, total_term_freq, num_blocks) from a driver-side
        pyarrow read of ``term_dict/``. Its files are range-partitioned and
        sorted by term, so row-group statistics prune the read to the
        terms' [min, max] span (pyarrow prunes on the range, not on
        ``isin``). The directory is listed on every call and
        ``_``/``.``-prefixed files are skipped as Spark skips them, so after
        a term_dict swap this sees the files Spark's refreshed listing
        would."""
        if not terms:
            return {}
        import pyarrow as pa
        import pyarrow.dataset as ds

        uniq = sorted(set(terms))
        col = ds.field("term")
        schema = pa.schema([("term", pa.string()), ("doc_freq", pa.int64()),
                            ("total_term_freq", pa.int64()),
                            ("num_blocks", pa.int64())])
        t = ds.dataset(os.path.join(self.index_dir, "term_dict"),
                       schema=schema, format="parquet").to_table(
            filter=(col >= uniq[0]) & (col <= uniq[-1]) & col.isin(uniq))
        cols = [t.column(c).to_pylist() for c in schema.names]
        return {term: (df, ttf, nb) for term, df, ttf, nb in zip(*cols)}

    def docmap(self) -> DataFrame:
        if self._docmap is None:
            self._docmap = (
                self.spark.read.parquet(
                    os.path.join(self.index_dir, "docmap"))
                # commit-point visibility: hive-partition pruning drops
                # any staged-but-uncommitted segment's rows
                .filter(F.col("segment") <= self.max_segment_id))
        return self._docmap

    def high_freq_terms(self, n: int = 100, by: str = "doc_freq"
                        ) -> DataFrame:
        """HighFreqTerms tool (misc/HighFreqTerms.java:75-127): the top-n
        terms by ``doc_freq`` (default) or ``total_term_freq``, ties
        broken by descending term bytes (the priority queue keeps the
        comparator-largest entries, :129-157). One pruned scan of the
        merged term_dict — never a corpus pass."""
        if by not in ("doc_freq", "total_term_freq"):
            raise ValueError(f"unknown order {by!r}")
        return (
            self.term_dict.select("term", "doc_freq", "total_term_freq")
            .orderBy(F.desc(by), F.desc("term")).limit(n)
        )

    def auto_stop_set(self, max_percent_docs: float = 0.4,
                      max_doc_freq: int | None = None,
                      cap: int = 100_000) -> frozenset[str]:
        """QueryAutoStopWordAnalyzer (query/QueryAutoStopWordAnalyzer.java:
        50-140): the set of terms whose doc_freq EXCEEDS ``max_doc_freq``
        (default ``int(num_docs * max_percent_docs)``, the reference's 40%
        default). Used query-side: drop these terms from analyzed queries
        before building scorers — the index is unchanged. The df filter
        pushes down to the sorted term_dict parquet; the result is
        driver-collected (bounded: by construction at most
        sum_ttf/max_doc_freq terms can exceed the threshold — ``cap``
        guards pathological thresholds)."""
        if max_doc_freq is None:
            max_doc_freq = int(self.doc_count * max_percent_docs)
        rows = (
            self.term_dict.filter(F.col("doc_freq") > max_doc_freq)
            .select("term").limit(cap + 1).collect()
        )
        if len(rows) > cap:
            raise ValueError(
                f"auto_stop_set: >{cap} terms above df {max_doc_freq}; "
                "raise the threshold")
        return frozenset(r["term"] for r in rows)

    # ------------------------------------------------------------ search

    def search(self, query: Query, k: int = 10) -> DataFrame:
        """Top-k DataFrame (doc_id long, score float), exact Lucene order.

        Term and flat Boolean queries (optionally Boost-wrapped) whose
        distinct terms hold at most ``LOCAL_POSTINGS_MAX`` postings
        (term_dict doc_freq summed), on a searcher with at most
        ``BROADCAST_DELETES_MAX`` tombstones, run on the driver: their
        blocks are read with pyarrow, decoded and scored in numpy, and the
        top-k is computed EAGERLY, here; the returned frame is a local
        table whose ``collect()`` runs no Spark job. Every other query
        returns a lazy Spark plan: multi-clause flat Booleans over the
        doc-range layout through ``search_colocated``, the rest through
        the term-at-a-time scan. Both routes return identical rows.

        Bare multi-term queries (Prefix/Wildcard/Regexp/TermRange/TermInSet,
        optionally Boost-wrapped) run through the JOIN-based expansion
        (``_scored_expansion_join``): the term predicate is pushed into the
        postings scan itself, per-term df comes from a metadata-only groupBy
        over the matched blocks, and no term list ever reaches the driver —
        result-identical to the SHOULD-of-TermQueries rewrite but unbounded
        and fully distributed."""
        q = rewrite_fixpoint(query)
        jp = self._as_multi_term_cond(q)
        if jp is not None:
            scored = self._live(self._scored_expansion_join(*jp))
            return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        q = self._expand_multi_term(q)
        q = rewrite_fixpoint(q)
        flat = self._as_flat(q)
        if flat is not None:
            hits = self._local_topk({"": flat}, k)
            if hits is not None:
                return local.hits_frame(self.spark, *hits[""])
        # planner: multi-clause flat Booleans route to the doc-at-a-time
        # co-located layout when it exists (bit-identical results, no
        # combination shuffle — BENCH.md); single-clause queries stay
        # term-at-a-time, where one scan with no groupBy is already optimal
        if (
            self.manifest.get("doc_layout")
            and isinstance(q, BooleanQuery)
            and self._is_flat(q)
            and len(q.must) + len(q.should) >= 2
        ):
            return self.search_colocated(q, k)
        scored = self._live(self._execute(q, np.float32(1.0)))
        if scored is None:
            return self._empty_hits()
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def count(self, query: Query) -> int:
        """Total hit count (TotalHitCountCollector.java:27). Bare TermQuery
        short-circuits to the term_dict doc_freq — the sub-linear
        ``Weight#count`` shortcut; flat Booleans use FILTER semantics (no
        stats collect, no norm reads, no score arithmetic — counting never
        pays for scoring); everything else counts scored matches."""
        q = rewrite_fixpoint(self._expand_multi_term(rewrite_fixpoint(query)))
        if isinstance(q, TermQuery) and not self.has_deletes:
            # the sub-linear shortcut is unavailable with live deletes —
            # exactly the reference's Weight#count contract
            stats = self.term_stats([q.term])
            return stats.get(q.term, (0, 0))[0]
        if isinstance(q, MatchAllDocsQuery):
            if not self.has_deletes:
                return self.local_doc_count
            return self._live(self.docmap().select("doc_id")).count()
        if isinstance(q, MatchNoDocsQuery):
            return 0
        if isinstance(q, TermQuery):
            q = BooleanQuery(must=[q])
        if isinstance(q, BooleanQuery) and self._is_flat(q):
            return self._match_count(q)
        scored = self._live(self._execute(q, np.float32(1.0)))
        return 0 if scored is None else scored.count()

    def _match_count(self, q: BooleanQuery) -> int:
        """Match-only count for flat Booleans: decode doc ids per clause
        (no freqs used, no norms, no weights — so no driver-side stats job
        either) and apply the Boolean membership conditions."""
        clauses: list[tuple[int, str, str]] = []
        cid = 0
        for kind, group in (
            ("must", q.must), ("should", q.should),
            ("filter", q.filter), ("must_not", q.must_not),
        ):
            for c in group:
                term = c.query.term if isinstance(c, BoostQuery) else c.term
                clauses.append((cid, kind, term))
                cid += 1
        n_must = sum(1 for c in clauses if c[1] == "must")
        n_filter = sum(1 for c in clauses if c[1] == "filter")
        msm = q.min_should_match
        terms = sorted({c[2] for c in clauses})
        buckets = sorted({term_bucket_of(t, self.buckets) for t in terms})
        term_cids: dict[str, list[int]] = {}
        for c in clauses:
            term_cids.setdefault(c[2], []).append(c[0])
        scan = (
            self.postings.filter(
                F.col("term_bucket").isin(buckets) & F.col("term").isin(terms)
            )
            .select("term", "num_docs", "first_doc", "data")
            .repartition(self.spark.sparkContext.defaultParallelism)
        )

        def decode_ids(batches):
            from lucene_spark.functions.codec import decode_block

            for pdf in batches:
                out_cid, out_doc = [], []
                for term, nd, fd, data in zip(
                    pdf["term"].to_numpy(object),
                    pdf["num_docs"].to_numpy(np.int64),
                    pdf["first_doc"].to_numpy(np.int64),
                    pdf["data"].to_numpy(object),
                ):
                    docs, _, _ = decode_block(data, int(nd), int(fd))
                    for one_cid in term_cids[term]:
                        out_cid.append(np.full(docs.size, one_cid, dtype=np.int32))
                        out_doc.append(docs)
                if out_doc:
                    yield pd.DataFrame(
                        {"clause_id": np.concatenate(out_cid),
                         "doc_id": np.concatenate(out_doc)}
                    )

        matched = scan.mapInPandas(decode_ids, schema="clause_id int, doc_id long")
        kind_expr = F.create_map(
            *[x for one_cid, kd, _ in clauses for x in (F.lit(one_cid), F.lit(kd))]
        )[F.col("clause_id")]
        agg = matched.withColumn("kind", kind_expr).groupBy("doc_id").agg(
            F.count(F.when(F.col("kind") == "must", 1)).alias("must_n"),
            F.count(F.when(F.col("kind") == "should", 1)).alias("should_n"),
            F.count(F.when(F.col("kind") == "filter", 1)).alias("filter_n"),
            F.count(F.when(F.col("kind") == "must_not", 1)).alias("not_n"),
        )
        cond = (
            (F.col("must_n") == n_must)
            & (F.col("filter_n") == n_filter)
            & (F.col("not_n") == 0)
        )
        if n_must + n_filter == 0:
            cond = cond & (F.col("should_n") >= max(msm, 1))
        elif msm > 0:
            cond = cond & (F.col("should_n") >= msm)
        return self._live(agg.filter(cond)).count()

    def search_after(
        self, query: Query, k: int, after: tuple[float, int]
    ) -> DataFrame:
        """Pagination floor (IndexSearcher.java:576-588): hits strictly after
        (after_score, after_doc) in (score desc, doc asc) order."""
        a_score, a_doc = np.float32(after[0]), int(after[1])
        scored = self._scored_all(query)
        if scored is None:
            return self._empty_hits()
        cond = (F.col("score") < float(a_score)) | (
            (F.col("score") == float(a_score)) & (F.col("doc_id") > a_doc)
        )
        return scored.filter(cond).orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def search_with_fields(self, query: Query, k: int = 10) -> DataFrame:
        """Top-k joined back to (conv_id, turn_idx, role, ts) — the stored-
        fields retrieval analog (source table is the store; docmap maps)."""
        hits = self.search(query, k)
        dm = self.docmap().select("doc_id", "conv_id", "turn_idx", "role", "ts")
        # top-k is tiny -> broadcast it against the docmap scan
        return F.broadcast(hits).join(dm, "doc_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )

    def facet_counts(self, query: Query, field: str) -> DataFrame:
        """Hit counts grouped by a metadata field — the facet-module analog
        (``lucene/facet`` taxonomy counts ≅ groupBy().count() over matches).
        DF(value string, count long) ordered count desc, value asc."""
        scored = self._scored_all(query)
        if scored is None:
            return self.spark.createDataFrame([], "value string, count long")
        dm = self.docmap().select("doc_id", F.col(field).cast("string").alias("value"))
        return (
            scored.select("doc_id").join(dm, "doc_id")
            .groupBy("value").count()
            .orderBy(F.desc("count"), F.asc("value"))
        )

    def facet_taxonomy(self, query: Query, levels: list,
                       drilldown: tuple = ()) -> DataFrame:
        """Hierarchical facet counts with drill-down — the taxonomy-facets
        analog (``lucene/facet/taxonomy/TaxonomyFacetCounts`` +
        ``DrillDownQuery``): ``levels`` is the path dimension as docmap
        column names or Columns (level 0 first); ``drilldown`` fixes the
        first ``len(drilldown)`` levels to the given string values and the
        result counts matching docs per value of the NEXT level —
        DF(value string, count long), count desc / value asc. One extra
        groupBy per drill-down step, exactly the query-per-level cost the
        reference pays; the dimension columns come from the columnar docmap,
        so level predicates push down to the metadata scan."""
        if len(drilldown) >= len(levels):
            raise ValueError("drilldown deeper than the taxonomy")
        scored = self._scored_all(query)
        if scored is None:
            return self.spark.createDataFrame([], "value string, count long")
        cols = [
            (F.col(c) if isinstance(c, str) else c).cast("string").alias(f"l{i}")
            for i, c in enumerate(levels)
        ]
        dm = self.docmap().select("doc_id", *cols)
        for i, v in enumerate(drilldown):
            dm = dm.filter(F.col(f"l{i}") == str(v))
        nxt = f"l{len(drilldown)}"
        # docs without the next-level dimension are not counted (a doc with
        # no value under the path simply doesn't contribute a facet ordinal
        # in the reference) — never emit a NULL facet label
        return (
            scored.select("doc_id").join(dm, "doc_id")
            .filter(F.col(nxt).isNotNull())
            .groupBy(F.col(nxt).alias("value")).count()
            .orderBy(F.desc("count"), F.asc("value"))
        )

    def facet_associations(self, query: Query,
                           pairs: list[tuple], agg: str = "sum",
                           float_values: bool = False) -> DataFrame:
        """Association facets — the ``TaxonomyFacetIntAssociations`` /
        ``TaxonomyFacetFloatAssociations`` analog
        (``facet/taxonomy/TaxonomyFacetIntAssociations.java:63-97``:
        each matching doc carries (ordinal, value) association pairs —
        ``IntAssociationFacetField`` — and per ordinal the values are
        folded with ``AssociationAggregationFunction`` SUM or MAX
        (``AssociationAggregationFunction.java:30-56``) while ``count``
        increments once per PAIR, not per doc). ``pairs`` is
        [(label column/expr, value column/expr)] — the association
        fields a doc would have been indexed with; a NULL label means
        the doc has no pair for that slot (skipped, like a doc absent
        from the ordinal's postings). ``float_values`` selects the
        Float flavor (values aggregate as double→f32 for MAX — exact;
        SUM stays exact for integer values, which is the Int flavor).
        DF(label string, value long|float, count long), value desc /
        label asc (TopOrdAndIntQueue keeps largest values; ties by
        taxonomy ord ≅ label here). One explode + one groupBy — the
        shuffle is bounded by matches × len(pairs)."""
        if agg not in ("sum", "max"):
            raise ValueError(f"unknown aggregation {agg!r}")
        vt = "double" if float_values else "long"
        scored = self._scored_all(query)
        out_vt = "float" if float_values else "long"
        if scored is None:
            return self.spark.createDataFrame(
                [], f"label string, value {out_vt}, count long")
        structs = [
            F.struct(
                (F.col(l) if isinstance(l, str) else l)
                .cast("string").alias("label"),
                (F.col(v) if isinstance(v, str) else v)
                .cast(vt).alias("v"),
            )
            for l, v in pairs
        ]
        dm = self.docmap().select(
            "doc_id", F.explode(F.array(*structs)).alias("p")
        ).filter(F.col("p.label").isNotNull())
        aggc = (F.sum("p.v") if agg == "sum" else F.max("p.v"))
        return (
            scored.select("doc_id").join(dm, "doc_id")
            .groupBy(F.col("p.label").alias("label"))
            .agg(aggc.cast(out_vt).alias("value"),
                 F.count(F.lit(1)).alias("count"))
            .orderBy(F.desc("value"), F.asc("label"))
        )

    def facet_ranges(
        self, query: Query, field: str,
        ranges: list[tuple[str, int, int]],
    ) -> DataFrame:
        """Hit counts per numeric range — the LongRangeFacetCounts analog
        (``facet/range/LongRangeFacetCounts.java``; ranges may overlap and
        each is counted independently, as in the reference). ``ranges`` is
        [(label, lo, hi)] with half-open [lo, hi) bounds over a numeric
        docmap field. DF(label string, count long) in input order."""
        scored = self._scored_all(query)
        if scored is None:
            return self.spark.createDataFrame(
                [(lbl, 0) for lbl, _, _ in ranges], "label string, count long"
            )
        dm = self.docmap().select("doc_id", F.col(field).cast("long").alias("v"))
        j = scored.select("doc_id").join(dm, "doc_id")
        # ONE pass over the matches: conditional sum per range, then unpivot
        # coalesce: agg over an EMPTY match set (zero-doc conjunction, all
        # matches tombstoned) yields one all-NULL row — the contract is 0
        aggs = [
            F.coalesce(
                F.sum(
                    F.when((F.col("v") >= lo) & (F.col("v") < hi), 1).otherwise(0)
                ),
                F.lit(0),
            ).cast("long").alias(f"c{i}")
            for i, (_, lo, hi) in enumerate(ranges)
        ]
        one = j.agg(*aggs)
        pairs = ", ".join(
            f"'{lbl}', c{i}" for i, (lbl, _, _) in enumerate(ranges)
        )
        return one.select(
            F.expr(f"stack({len(ranges)}, {pairs}) as (label, count)")
        )

    def facet_histogram(self, query: Query, field: str, bucket_width: int,
                        max_buckets: int = 1024) -> DataFrame:
        """HistogramCollector analog (``sandbox/facet/plain/histograms/
        HistogramCollector.java:155-171`` naive arm + ``HistogramCollector
        Manager.java:63-97``): matching-doc counts per bucket
        ``floorDiv(value, bucket_width)`` over a numeric docmap field —
        bucket k covers [k*width, (k+1)*width). NULL-valued docs are
        skipped (advanceExact false). bucket_width < 2 / max_buckets < 1
        raise like the manager ctor; more than max_buckets distinct
        buckets raises like checkMaxBuckets (:361-368 — a runtime check on
        the reduced result there and here). DF(bucket long, count long)
        bucket asc. Scale: hit set -> docmap join -> groupBy(bucket) with
        map-side partial agg; the shuffle carries <= max_buckets groups
        per task (the point-tree bulk arm is an IO shortcut Catalyst's
        scan pruning plays instead)."""
        if bucket_width < 2:
            raise ValueError(
                f"bucketWidth must be at least 2, got: {bucket_width}")
        if max_buckets < 1:
            raise ValueError(
                f"maxBuckets must be at least 1, got: {max_buckets}")
        scored = self._scored_all(query)
        if scored is None:
            return self.spark.createDataFrame([], "bucket long, count long")
        w = int(bucket_width)
        v = F.col(field).cast("long")
        # floorDiv: subtract the POSITIVE remainder first — `DIV` truncates
        # but the numerator is an exact multiple, so truncation == floor
        # (never `%`: Spark % follows the dividend's sign)
        dm = (
            self.docmap().where(v.isNotNull())
            .select("doc_id",
                    F.expr(f"(CAST({field} AS BIGINT) - pmod(CAST({field} AS"
                           f" BIGINT), {w})) DIV {w}").alias("bucket"))
        )
        out = (
            scored.select("doc_id").join(dm, "doc_id")
            .groupBy("bucket").agg(F.count("*").cast("long").alias("count"))
            .orderBy(F.asc("bucket"))
        )
        n_buckets = out.limit(max_buckets + 1).count()
        if n_buckets > max_buckets:
            raise ValueError(
                f"Collected {n_buckets} buckets, which is more than the "
                f"configured max number of buckets: {max_buckets}")
        return out

    def drill_down(self, query: Query,
                   dims: list[tuple[str, object, list[str]]],
                   k: int = 10) -> DataFrame:
        """DrillDownQuery analog (``facet/DrillDownQuery.java:39-66``):
        base query + one FILTER clause per dimension (OR within a
        dimension's values, AND across dimensions; drill-down terms are
        Occur.FILTER so they never contribute score — hits keep the BASE
        query's scores exactly). ``dims`` is [(name, column-or-expr,
        [drill values])]; values compare as strings. DF(doc_id, score)
        top-k (score desc, doc asc)."""
        scored = self._scored_all(query)
        if scored is None:
            return self._empty_hits()
        j = scored.join(self._dim_frame(dims), "doc_id")
        for name, _, values in dims:
            j = j.filter(F.col(f"__dim_{name}").isin([str(v) for v in values]))
        return (
            j.select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(int(k))
        )

    def _dim_frame(self, dims) -> DataFrame:
        cols = [
            (F.col(c) if isinstance(c, str) else c)
            .cast("string").alias(f"__dim_{name}")
            for name, c, _ in dims
        ]
        return self.docmap().select("doc_id", *cols)

    def drill_sideways(self, query: Query,
                       dims: list[tuple[str, object, list[str]]]
                       ) -> DataFrame:
        """DrillSideways analog (``facet/DrillSideways.java:33-56``):
        for each drilled dimension, facet counts computed with every
        OTHER dimension's drill-down applied (plus the base query) — the
        "near miss" counts that keep a dimension's alternatives visible
        after the user drills into it. One scored pass is shared by all
        dimensions (the reference's standard implementation also scores
        once, collecting per-dimension sideways FacetsCollectors); each
        dimension then costs one groupBy over the joined hit set. NULL
        dimension values are not counted (no facet ordinal).
        DF(dim string, value string, count long), ordered
        (dim asc, count desc, value asc)."""
        scored = self._scored_all(query)
        empty = self.spark.createDataFrame(
            [], "dim string, value string, count long")
        if scored is None:
            return empty
        j = scored.select("doc_id").join(self._dim_frame(dims), "doc_id")
        # ONE pass over the hit set: stack each dimension's (dim, value)
        # pair gated on the OTHER dims' drill filters as a boolean column,
        # then a single groupBy(dim, value) — the plan scores the base
        # query once and shuffles once regardless of dimension count
        # (a per-dim groupBy loop would rescan the postings N times)
        arms = []
        for name, _, _ in dims:
            other_ok = F.lit(True)
            for oname, _, ovalues in dims:
                if oname != name:
                    other_ok = other_ok & F.col(f"__dim_{oname}").isin(
                        [str(v) for v in ovalues])
            arms.append(F.struct(
                F.lit(name).alias("dim"),
                F.col(f"__dim_{name}").alias("value"),
                other_ok.alias("ok")))
        exploded = j.select(
            F.explode(F.array(*arms)).alias("a")
        ).select("a.dim", "a.value", "a.ok")
        return (
            exploded.filter(F.col("ok") & F.col("value").isNotNull())
            .groupBy("dim", "value").count()
            .select("dim", "value", F.col("count").cast("long").alias("count"))
            .orderBy("dim", F.desc("count"), F.asc("value"))
        )

    def facet_long_values(self, query: Query, field) -> DataFrame:
        """LongValueFacetCounts analog (``facet/LongValueFacetCounts
        .java``): hit counts per distinct long value of a numeric docmap
        field/expression (getAllChildren surface). NULLs skipped.
        DF(value long, count long) ordered value asc."""
        scored = self._scored_all(query)
        if scored is None:
            return self.spark.createDataFrame([], "value long, count long")
        col = (F.col(field) if isinstance(field, str) else field)
        dm = self.docmap().select("doc_id", col.cast("long").alias("value"))
        return (
            scored.select("doc_id").join(dm, "doc_id")
            .filter(F.col("value").isNotNull())
            .groupBy("value").count()
            .select("value", F.col("count").cast("long").alias("count"))
            .orderBy("value")
        )

    def all_groups(self, query: Query, field) -> DataFrame:
        """AllGroupsCollector analog (``grouping/AllGroupsCollector
        .java``): the distinct group values among matching docs (the
        collector's getGroups set; NULL = the null group, skipped here
        as the engine's groupBy facets do). DF(value string) asc."""
        scored = self._scored_all(query)
        if scored is None:
            return self.spark.createDataFrame([], "value string")
        col = (F.col(field) if isinstance(field, str) else field)
        dm = self.docmap().select("doc_id", col.cast("string").alias("value"))
        return (
            scored.select("doc_id").join(dm, "doc_id")
            .filter(F.col("value").isNotNull())
            .select("value").distinct().orderBy("value")
        )

    def distinct_values(self, query: Query, group_field, value_field,
                        top_groups: int = 10) -> DataFrame:
        """DistinctValuesCollector analog (``grouping/DistinctValues
        Collector.java:30-50``): first pass picks the top N groups by
        group head (best hit: score desc, doc asc — FirstPassGrouping
        Collector with relevance sort), second pass collects the SET of
        distinct ``value_field`` values per selected group. Emitted as
        (rank, value group, ndv distinct-count), ordered by head rank —
        one extra groupBy over the same joined hit set."""
        scored = self._scored_all(query)
        empty = self.spark.createDataFrame(
            [], "rank int, value string, ndv long")
        if scored is None:
            return empty
        gcol = (F.col(group_field) if isinstance(group_field, str)
                else group_field)
        vcol = (F.col(value_field) if isinstance(value_field, str)
                else value_field)
        dm = self.docmap().select(
            "doc_id", gcol.cast("string").alias("value"),
            vcol.cast("string").alias("v"))
        j = scored.join(dm, "doc_id").filter(F.col("value").isNotNull())
        heads = (
            j.groupBy("value")
            .agg(F.max(F.struct(F.col("score"),
                                (-F.col("doc_id")).alias("nd"))).alias("h"))
            .select("value", F.col("h.score").alias("hs"),
                    (-F.col("h.nd")).alias("hd"))
            .orderBy(F.desc("hs"), F.asc("hd")).limit(int(top_groups))
        )
        ndv = (
            j.join(F.broadcast(heads.select("value", "hs", "hd")), "value")
            .groupBy("value", "hs", "hd")
            .agg(F.countDistinct("v").cast("long").alias("ndv"))
        )
        from pyspark.sql.window import Window

        w = Window.orderBy(F.desc("hs"), F.asc("hd"))
        return (
            ndv.withColumn("rank", F.row_number().over(w).cast("int"))
            .select("rank", "value", "ndv").orderBy("rank")
        )

    #: LongRange sentinel bounds (Long.MIN_VALUE / Long.MAX_VALUE)
    _LONG_MIN = -(1 << 63)
    _LONG_MAX = (1 << 63) - 1

    def search_grouped_range(self, query: Query, field, lo: int,
                             width: int, hi: int,
                             k_per_group: int = 3) -> DataFrame:
        """Top-k hits per numeric range group — the LongRangeGroupSelector
        / LongRangeFactory analog (``grouping/LongRangeFactory.java:
        30-55``): values below ``lo`` fall in (Long.MIN_VALUE, lo),
        values >= ``hi`` in (hi, Long.MAX_VALUE), everything else in the
        fixed-width bucket [lo + floor((v-lo)/width)*width, +width).
        DF(range_lo long, range_hi long, doc_id, score, rank), ordered
        (range_lo, rank)."""
        from pyspark.sql.window import Window

        scored = self._scored_all(query)
        if scored is None:
            return self.spark.createDataFrame(
                [], "range_lo long, range_hi long, doc_id long, "
                    "score float, rank int")
        col = (F.col(field) if isinstance(field, str) else field)
        dm = self.docmap().select("doc_id", col.cast("long").alias("v"))
        lo_l, w_l, hi_l = int(lo), int(width), int(hi)
        bucket_lo = F.lit(lo_l) + F.floor(
            (F.col("v") - F.lit(lo_l)) / F.lit(w_l)).cast("long") * F.lit(w_l)
        range_lo = (
            F.when(F.col("v") < lo_l, F.lit(self._LONG_MIN))
            .when(F.col("v") >= hi_l, F.lit(hi_l))
            .otherwise(bucket_lo)
        ).cast("long")
        range_hi = (
            F.when(F.col("v") < lo_l, F.lit(lo_l))
            .when(F.col("v") >= hi_l, F.lit(self._LONG_MAX))
            .otherwise(bucket_lo + F.lit(w_l))
        ).cast("long")
        j = (
            scored.join(dm, "doc_id").filter(F.col("v").isNotNull())
            .withColumn("range_lo", range_lo)
            .withColumn("range_hi", range_hi)
        )
        w = Window.partitionBy("range_lo").orderBy(
            F.desc("score"), F.asc("doc_id"))
        return (
            j.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= int(k_per_group))
            .select("range_lo", "range_hi", "doc_id", "score", "rank")
            .orderBy("range_lo", "rank")
        )

    def grouped_facet_counts(self, query: Query, group_field, facet_field,
                             prefix: str | None = None) -> DataFrame:
        """GroupFacetCollector analog (``grouping/GroupFacetCollector
        .java:30``, TermGroupFacetCollector): facet counts where each
        GROUP is counted at most once per facet value — count = number
        of distinct groups having >= 1 matching doc with that value.
        ``prefix`` keeps only facet values starting with it (the
        facetPrefix argument). NULL facet values skipped (missing
        ordinal). DF(value string, count long), count desc / value asc."""
        scored = self._scored_all(query)
        if scored is None:
            return self.spark.createDataFrame([], "value string, count long")
        gcol = (F.col(group_field) if isinstance(group_field, str)
                else group_field)
        fcol = (F.col(facet_field) if isinstance(facet_field, str)
                else facet_field)
        dm = self.docmap().select(
            "doc_id", gcol.cast("string").alias("g"),
            fcol.cast("string").alias("value"))
        j = (scored.select("doc_id").join(dm, "doc_id")
             .filter(F.col("value").isNotNull()))
        if prefix is not None:
            j = j.filter(F.col("value").startswith(prefix))
        return (
            j.groupBy("value")
            .agg(F.countDistinct("g").cast("long").alias("count"))
            .orderBy(F.desc("count"), F.asc("value"))
        )

    def facet_double_ranges(self, query: Query, field,
                            ranges: list[tuple[str, float, bool, float,
                                               bool]]) -> DataFrame:
        """DoubleRangeFacetCounts analog (``facet/range/DoubleRange
        .java:28-60`` — min/maxInclusive flags; overlapping ranges each
        counted independently). ``ranges`` = [(label, min, min_incl,
        max, max_incl)]. DF(label string, count long) in input order."""
        scored = self._scored_all(query)
        if scored is None:
            return self.spark.createDataFrame(
                [(lbl, 0) for lbl, *_ in ranges], "label string, count long")
        col = (F.col(field) if isinstance(field, str) else field)
        dm = self.docmap().select("doc_id", col.cast("double").alias("v"))
        j = scored.select("doc_id").join(dm, "doc_id")
        aggs = []
        for i, (_, lo, lo_in, hi, hi_in) in enumerate(ranges):
            c = (F.col("v") >= float(lo)) if lo_in else (F.col("v") > float(lo))
            c &= (F.col("v") <= float(hi)) if hi_in else (F.col("v") < float(hi))
            aggs.append(
                F.coalesce(F.sum(F.when(c, 1).otherwise(0)), F.lit(0))
                .cast("long").alias(f"c{i}"))
        one = j.agg(*aggs)
        pairs = ", ".join(
            f"'{lbl}', c{i}" for i, (lbl, *_) in enumerate(ranges))
        return one.select(
            F.expr(f"stack({len(ranges)}, {pairs}) as (label, count)"))

    def facet_range_on_range(self, query: Query, lo_field, hi_field,
                             ranges: list[tuple[str, int, int]],
                             query_type: str = "intersects") -> DataFrame:
        """RangeOnRangeFacetCounts analog (``facet/rangeonrange/
        RangeOnRangeFacetCounts.java:75-130``): docs carry a RANGE
        [lo_field, hi_field]; each query range counts the docs whose
        range relates to it per ``query_type`` — "intersects"
        (doc.min <= q.max and doc.max >= q.min), "within"
        (q.min <= doc.min and doc.max <= q.max), "contains"
        (doc.min <= q.min and q.max <= doc.max), "crosses" (intersects
        and neither within nor contains) — RangeFieldQuery.QueryType
        semantics, single dimension. NULL endpoints = missing (not
        counted). ``ranges`` = [(label, min, max)] inclusive bounds.
        DF(label string, count long) in input order."""
        if query_type not in ("intersects", "within", "contains",
                              "crosses"):
            raise ValueError(f"unknown query type {query_type!r}")
        scored = self._scored_all(query)
        if scored is None:
            return self.spark.createDataFrame(
                [(lbl, 0) for lbl, _, _ in ranges], "label string, count long")
        lo = (F.col(lo_field) if isinstance(lo_field, str)
              else lo_field).cast("long")
        hi = (F.col(hi_field) if isinstance(hi_field, str)
              else hi_field).cast("long")
        dm = self.docmap().select("doc_id", lo.alias("dlo"), hi.alias("dhi"))
        j = (scored.select("doc_id").join(dm, "doc_id")
             .filter(F.col("dlo").isNotNull() & F.col("dhi").isNotNull()))

        def rel(qlo: int, qhi: int):
            inter = (F.col("dlo") <= qhi) & (F.col("dhi") >= qlo)
            within = (F.col("dlo") >= qlo) & (F.col("dhi") <= qhi)
            contains = (F.col("dlo") <= qlo) & (F.col("dhi") >= qhi)
            return {"intersects": inter, "within": within,
                    "contains": contains,
                    "crosses": inter & ~within & ~contains}[query_type]

        aggs = [
            F.coalesce(F.sum(F.when(rel(int(lo_), int(hi_)), 1)
                             .otherwise(0)), F.lit(0))
            .cast("long").alias(f"c{i}")
            for i, (_, lo_, hi_) in enumerate(ranges)
        ]
        one = j.agg(*aggs)
        pairs = ", ".join(
            f"'{lbl}', c{i}" for i, (lbl, _, _) in enumerate(ranges))
        return one.select(
            F.expr(f"stack({len(ranges)}, {pairs}) as (label, count)"))

    def facet_matching_sets(self, query: Query,
                            sets: list[tuple],
                            matchers: list[tuple]) -> DataFrame:
        """MatchingFacetSetsCounts analog (``facet/facetset/
        MatchingFacetSetsCounts.java:88-120``): each doc carries one or
        more d-dimensional long SETS (``sets`` = list of d-tuples of
        docmap columns/exprs, one tuple per per-doc set); each matcher
        counts MATCHING SETS (a doc with two matching sets for the same
        matcher counts twice — the reference increments per set).
        ``matchers`` = [(label, "exact", (v1..vd))] or
        [(label, "range", [(lo, hi)] per dim, inclusive)] —
        Exact/RangeFacetSetMatcher. DF(label string, count long) in
        matcher order."""
        scored = self._scored_all(query)
        if scored is None:
            return self.spark.createDataFrame(
                [(m[0], 0) for m in matchers], "label string, count long")
        d = len(sets[0])
        if any(len(t) != d for t in sets):
            raise ValueError("all sets must have the same dimension count")
        arms = []
        for si, t in enumerate(sets):
            arms.append(F.struct(*[
                (F.col(c) if isinstance(c, str) else c)
                .cast("long").alias(f"v{i}") for i, c in enumerate(t)]))
        j = (
            scored.select("doc_id")
            .join(self.docmap().select(
                "doc_id", F.array(*arms).alias("__sets")), "doc_id")
            .select(F.explode("__sets").alias("s"))
        )
        aggs = []
        for mi, m in enumerate(matchers):
            kind = m[1]
            if kind == "exact":
                cond = F.lit(True)
                for i, v in enumerate(m[2]):
                    cond = cond & (F.col(f"s.v{i}") == int(v))
            elif kind == "range":
                cond = F.lit(True)
                for i, (lo, hi) in enumerate(m[2]):
                    cond = cond & (F.col(f"s.v{i}") >= int(lo)) & (
                        F.col(f"s.v{i}") <= int(hi))
            else:
                raise ValueError(f"unknown matcher kind {kind!r}")
            aggs.append(
                F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0))
                .cast("long").alias(f"c{mi}"))
        one = j.agg(*aggs)
        pairs = ", ".join(f"'{m[0]}', c{i}" for i, m in enumerate(matchers))
        return one.select(
            F.expr(f"stack({len(matchers)}, {pairs}) as (label, count)"))

    def facet_dynamic_ranges(self, query: Query, field, top_n: int,
                             weight_field=None,
                             num_buckets: int = 32) -> DataFrame:
        """DynamicRangeUtil analog (``facet/range/DynamicRangeUtil.java``
        computeDynamicNumericRanges): sort matches by (value, weight)
        and greedily cut a range every time the accumulated weight
        reaches ``totalWeight / min(topN, len)`` — equal-weight ranges.
        ``weight_field`` None = unit weights (count-balanced ranges).

        The reference materializes long[totalHits] in RAM. Here the scan
        is decomposed so the DRIVER NEVER HOLDS THE VALUE DOMAIN (a
        high-cardinality field — timestamps, lengths at corpus scale —
        previously collected its whole distinct (value, weight) set):

          1. one groupBy compresses matches to runs (v, w, n), range-
             partitioned into ``num_buckets`` global (v, w)-ordered
             segments; the driver collects only the per-segment
             aggregates (count / Σw·n / Σv·n as decimal — exact — plus
             min/max v): <= num_buckets rows.
          2. the driver walks segments in order carrying the greedy's
             state (count, accu, vsum, vmin). A segment whose total
             weight cannot reach the target from the carried accu is
             absorbed ARITHMETICALLY from its aggregates — no cut can
             occur inside it, so the element scan over it is equivalent
             to adding its totals (runs inside a range contribute only
             count/weight/value sums).
          3. only segments that contain a cut replay the run-level greedy
             EXECUTOR-SIDE (one single-partition job each, <= the number
             of emitted ranges, i.e. <= min(topN, len) jobs): the task
             receives the carried state, runs the identical per-run
             arithmetic (ceil((target-accu)/w) elements at a time), and
             emits completed ranges plus the carry-out — <= topN + 1
             rows back to the driver.

        Element-for-element identical to the reference's scan by
        construction (same greedy, same float arithmetic, segmented with
        carried state). DF(count long, weight long, min long, max long,
        avg double), range order."""
        empty = self.spark.createDataFrame(
            [], "count long, weight long, min long, max long, avg double")
        if top_n <= 0:
            return empty
        scored = self._scored_all(query)
        if scored is None:
            return empty
        col = (F.col(field) if isinstance(field, str) else field)
        sel = ["doc_id", col.cast("long").alias("v")]
        if weight_field is not None:
            wcol = (F.col(weight_field) if isinstance(weight_field, str)
                    else weight_field)
            sel.append(wcol.cast("long").alias("w"))
        dm = self.docmap().select(*sel)
        j = scored.select("doc_id").join(dm, "doc_id")
        if weight_field is None:
            j = j.withColumn("w", F.lit(1).cast("long"))
        runs = (
            j.groupBy("v", "w").agg(F.count("*").alias("n"))
            .repartitionByRange(int(num_buckets), "v", "w")
            .sortWithinPartitions("v", "w")
            .cache()
        )
        try:
            # segment aggregates: decimal(38,0) sums — the driver replay
            # is exact python-int arithmetic like the reference's scan,
            # so the absorbed totals must not wrap at long
            summ = (
                runs.withColumn("pid", F.spark_partition_id())
                .groupBy("pid")
                .agg(F.sum("n").alias("cnt"),
                     F.sum(F.col("w").cast("decimal(19,0)")
                           * F.col("n").cast("decimal(19,0)")).alias("ws"),
                     F.sum(F.col("v").cast("decimal(19,0)")
                           * F.col("n").cast("decimal(19,0)")).alias("vn"),
                     F.min("v").alias("vlo"), F.max("v").alias("vhi"))
                .orderBy("pid").collect()
            )
            summ = [r for r in summ if int(r["cnt"]) > 0]
            if not summ:
                return empty
            total_len = sum(int(r["cnt"]) for r in summ)
            total_weight = sum(int(r["ws"]) for r in summ)
            target = total_weight / min(int(top_n), total_len)  # double
            out = []
            count = 0
            accu = 0
            vsum = 0
            vmin = None
            for r in summ:
                p_cnt, p_ws, p_vn = int(r["cnt"]), int(r["ws"]), int(r["vn"])
                if accu + p_ws < target:
                    # no cut can fall inside this segment: absorb its
                    # totals (identical to scanning its elements)
                    if vmin is None:
                        vmin = int(r["vlo"])
                    count += p_cnt
                    accu += p_ws
                    vsum += p_vn
                    continue
                ranges, (count, accu, vsum, vmin) = _replay_dynamic_segment(
                    runs, int(r["pid"]), target, count, accu, vsum, vmin)
                out.extend(ranges)
            if count > 0:
                out.append((count, accu, vmin, int(summ[-1]["vhi"]),
                            vsum / count))
        finally:
            runs.unpersist()
        return self.spark.createDataFrame(
            out, "count long, weight long, min long, max long, avg double")

    def search_complex_phrase(self, query, k: int = 10,
                              in_order: bool = True,
                              default_operator: str = "OR") -> DataFrame:
        """ComplexPhraseQueryParser search (``queryparser/complexPhrase``;
        see query/complexphrase.py): classic syntax whose quoted phrases
        may embed prefixes/wildcards/fuzzies/(a b) groups. slop=0
        phrases expand to MultiPhraseQuery and compose anywhere in the
        boolean tree; a slop>0 phrase runs the span matcher standalone
        (ordered greedy for in_order, the 2-term nearest-occurrence
        matcher otherwise). DF(doc_id, score) top-k."""
        from lucene_spark.query.complexphrase import (
            ComplexPhraseQuery, ComplexPhraseQueryParser,
            expand_complex_phrase,
        )

        if isinstance(query, str):
            parser = ComplexPhraseQueryParser(
                analyzer=self.manifest["config"].get("analyzer", "simple"),
                default_operator=default_operator, in_order=in_order)
            query = parser.parse(query)

        def resolve(q):
            if isinstance(q, ComplexPhraseQuery):
                return expand_complex_phrase(q, self)
            if isinstance(q, BoostQuery):
                return BoostQuery(resolve(q.query), q.boost)
            if isinstance(q, BooleanQuery):
                out = BooleanQuery(
                    [resolve(c) for c in q.must],
                    [resolve(c) for c in q.should],
                    [resolve(c) for c in q.filter],
                    [resolve(c) for c in q.must_not],
                    q.min_should_match)
                for group in (out.must, out.should, out.filter,
                              out.must_not):
                    if any(isinstance(c, ComplexPhraseQuery)
                           for c in group):
                        raise ValueError(
                            "slop>0 complex phrases execute standalone "
                            "(documented divergence)")
                return out
            return q

        q = resolve(query)
        if isinstance(q, ComplexPhraseQuery):
            # literal slots, slop>0: the span-near matcher
            stats = self.term_stats(
                [t for sl in q.slots for t in sl])
            present = [tuple(t for t in sl if t in stats)
                       for sl in q.slots]
            if any(not sl for sl in present):
                return self._empty_hits()
            w = self._multi_term_weight(
                np.float32(1.0),
                [stats[t] for sl in q.slots for t in sl if t in stats])
            if q.in_order:
                hits = self._phrase_core(present, int(q.slop), w,
                                         matcher="ordered")
            else:
                if any(len(sl) != 1 for sl in present) or len(present) != 2:
                    raise ValueError(
                        "unordered complex phrases support exactly two "
                        "single-term positions (documented divergence)")
                return self.search(SpanNearQuery(
                    tuple(sl[0] for sl in present), int(q.slop),
                    in_order=False), k)
            if hits is None:
                return self._empty_hits()
            return self._live(hits).orderBy(
                F.desc("score"), F.asc("doc_id")).limit(int(k))
        return self.search(q, k)

    def search_surround(self, query, k: int = 10) -> DataFrame:
        """Surround query-language search (``queryparser/surround``; see
        query/surround.py): parse + compile + execute. Single-term
        distance operators compile to the engine's SpanNearQuery AST and
        compose inside booleans; multi-alternative distances (prefix /
        truncated / OR operands — SpanNearClauseFactory's SpanOr) run
        the ordered greedy matcher over per-slot alternatives with the
        span weight accumulated over all present slot terms (slot-then-
        term order, SpanWeight.buildSimWeight). DF(doc_id, score) top-k."""
        from lucene_spark.query.surround import (
            _DistancePlan, compile_surround, parse_surround,
        )

        tree = parse_surround(query) if isinstance(query, str) else query
        plan = compile_surround(tree, self)
        if not isinstance(plan, _DistancePlan):
            return self.search(plan, k)
        if not plan.ordered:
            raise ValueError(
                "unordered distance with multi-alternative operands is "
                "not supported (single-term N compiles to SpanNearQuery)")
        stats = self.term_stats([t for sl in plan.slots for t in sl])
        present_slots = [tuple(t for t in sl if t in stats)
                         for sl in plan.slots]
        if any(not sl for sl in present_slots):
            return self._empty_hits()
        w = self._multi_term_weight(
            np.float32(plan.weight),
            [stats[t] for sl in plan.slots for t in sl if t in stats])
        hits = self._phrase_core(present_slots, plan.slop, w,
                                 matcher="ordered")
        if hits is None:
            return self._empty_hits()
        return self._live(hits).orderBy(
            F.desc("score"), F.asc("doc_id")).limit(int(k))

    def term_vector(self, doc_id: int, with_offsets: bool = False) -> DataFrame:
        """Per-doc term vector — the TermVectors analog (term vectors are
        index artifacts storing one doc's (term, freq, positions);
        ``index/TermVectors.java``, ``codecs/lucene90/
        Lucene90CompressingTermVectorsFormat``). Served from the positions
        table (freq = |positions|), so it needs ``IndexConfig.positions``.
        A per-doc random-access API, not a scan operator. DF(term, freq
        int, positions array<int>[, starts, ends]), term asc. With
        ``with_offsets`` (index built with ``IndexConfig.offsets``) the
        stored char offsets come along (``PostingsEnum.startOffset`` /
        ``endOffset`` surface)."""
        pos = self.positions_table().filter(F.col("doc_id") == int(doc_id))
        extra = []
        if with_offsets:
            if "starts" not in pos.columns:
                raise ValueError("index built without offsets")
            extra = ["starts", "ends"]
        return pos.select(
            "term",
            F.size("positions").cast("int").alias("freq"),
            "positions",
            *extra,
        ).orderBy("term")

    def payload_score(
        self, term: str, k: int = 10, func: str = "sum",
        include_span_score: bool = False, boost: float = 1.0,
    ) -> DataFrame:
        """PayloadScoreQuery analog (``queries/payloads/PayloadScoreQuery
        .java:47``, functions ``payloads/PayloadFunction.java`` Sum/Max/Min/
        Average): score = PayloadFunction over the matched term's per-
        occurrence float payloads (index built with ``IndexConfig.payloads``
        — DelimitedPayloadTokenFilter + FloatEncoder). Occurrences without a
        payload (NaN) are skipped, like the reference's null payloads; a doc
        whose occurrences all lack payloads scores 0.0 (docScore with
        numPayloadsSeen == 0). Sum/avg accumulate FLOAT32 in position order
        (SpanScorer visits spans in order; each step a float add). With
        ``include_span_score`` the payload score is multiplied (float32) by
        the term's BM25 score, as the reference multiplies the wrapped
        SpanQuery's score. ``boost`` flows through the span weight ONLY —
        with ``include_span_score=False`` the score is the bare payload
        function and boost is ignored, exactly the reference's behavior
        (boost reaches PayloadScoreQuery through the SimWeight, which the
        payload-only score never consults). DF(doc_id, score), (score desc,
        doc asc) top-k."""
        if func not in ("sum", "max", "min", "avg"):
            raise ValueError(f"unknown payload function {func!r}")
        pos = self.positions_table()
        if "payloads" not in pos.columns:
            raise ValueError(
                "index built without payloads (IndexConfig.payloads=True)"
            )
        bucket = term_bucket_of(term, self.buckets)
        rows = pos.filter(
            (F.col("term_bucket") == bucket) & (F.col("term") == term)
        )
        vals = F.filter("payloads", lambda x: ~F.isnan(x))
        fzero = F.lit(0.0).cast("float")
        f32sum = F.aggregate(
            vals, fzero, lambda a, x: (a + x).cast("float")
        )
        if func == "sum":
            pscore = f32sum
        elif func == "max":
            pscore = F.array_max(vals)
        elif func == "min":
            pscore = F.array_min(vals)
        else:  # avg: float32 sum / int count, one float32 divide
            pscore = (f32sum / F.size(vals).cast("float")).cast("float")
        scored = rows.select(
            "doc_id",
            F.coalesce(
                F.when(F.size(vals) > 0, pscore), fzero
            ).alias("payload_score"),
        )
        if include_span_score:
            span = self._live(self._execute(TermQuery(term),
                                            np.float32(boost)))
            if span is None:
                return self.spark.createDataFrame(
                    [], "doc_id long, score float")
            scored = span.join(scored, "doc_id").select(
                "doc_id",
                (F.col("score") * F.col("payload_score"))
                .cast("float").alias("score"),
            )
        else:
            scored = self._live(scored.select(
                "doc_id", F.col("payload_score").cast("float").alias("score")
            ))
        return (
            scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(int(k))
        )

    def _span_topk(self, matched: DataFrame, w: np.float32, k: int) -> DataFrame:
        scored = self._live(self._score_freq_frame(
            matched.filter(F.col("freq") > 0), w))
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(int(k))

    def _empty_hits(self) -> DataFrame:
        return local.empty_hits(self.spark)

    def span_first(self, term: str, end: int, k: int = 10,
                   boost: float = 1.0) -> DataFrame:
        """SpanFirstQuery analog (``queries/spans/SpanFirstQuery.java:36``):
        matches the term's spans ENDING within the first ``end`` positions
        (a term span at position p has end p+1, so p < end). Each matching
        span contributes sloppyFreq 1.0 (matchLength 0); the span weight is
        the term's idf. One pruned positions scan, no Python in the row
        path. DF(doc_id, score) top-k, (score desc, doc asc)."""
        stats = self.term_stats([term])
        if term not in stats:
            return self._empty_hits()
        w = self._multi_term_weight(np.float32(boost), [stats[term]])
        rows = self.positions_table().filter(
            (F.col("term_bucket") == term_bucket_of(term, self.buckets))
            & (F.col("term") == term)
        )
        matched = rows.select(
            "doc_id",
            F.size(F.filter("positions", lambda p: p < F.lit(int(end))))
            .cast("double").alias("freq"),
        )
        return self._span_topk(matched, w, k)

    def span_position_range(self, term: str, start: int, end: int,
                            k: int = 10, boost: float = 1.0) -> DataFrame:
        """SpanPositionRangeQuery analog (``queries/spans/
        SpanPositionRangeQuery.java:30-45`` accept: spans with
        startPosition() >= start AND endPosition() <= end — for a term
        span at p that is start <= p < end; SpanFirst == the start=0
        case). Same pruned one-scan plan and span weight as
        ``span_first``. DF(doc_id, score) top-k."""
        stats = self.term_stats([term])
        if term not in stats:
            return self._empty_hits()
        w = self._multi_term_weight(np.float32(boost), [stats[term]])
        lo, hi = F.lit(int(start)), F.lit(int(end))
        rows = self.positions_table().filter(
            (F.col("term_bucket") == term_bucket_of(term, self.buckets))
            & (F.col("term") == term)
        )
        matched = rows.select(
            "doc_id",
            F.size(F.filter("positions", lambda p: (p >= lo) & (p < hi)))
            .cast("double").alias("freq"),
        )
        return self._span_topk(matched, w, k)

    def span_or(self, terms: list[str], k: int = 10,
                boost: float = 1.0) -> DataFrame:
        """SpanOrQuery analog (``queries/spans/SpanOrQuery.java:42``): the
        union of the clause terms' spans; per-doc freq = total matching
        spans (sloppyFreq 1.0 per term span). The span weight merges ALL
        present clause terms' statistics (SpanWeight.buildSimWeight: one
        similarity scorer over the accumulated idfs — same multi-idf fold
        as the phrase family). DF(doc_id, score) top-k."""
        uniq = sorted(set(terms))
        stats = self.term_stats(uniq)
        present = [t for t in uniq if t in stats]
        if not present:
            return self._empty_hits()
        w = self._multi_term_weight(
            np.float32(boost), [stats[t] for t in present])
        buckets = sorted({term_bucket_of(t, self.buckets) for t in present})
        rows = self.positions_table().filter(
            F.col("term_bucket").isin(buckets) & F.col("term").isin(present)
        )
        matched = rows.groupBy("doc_id").agg(
            F.sum(F.size("positions")).cast("double").alias("freq")
        )
        return self._span_topk(matched, w, k)

    def span_not(self, include: str, exclude: str, k: int = 10,
                 pre: int = 0, post: int = 0, boost: float = 1.0) -> DataFrame:
        """SpanNotQuery analog (``queries/spans/SpanNotQuery.java:43``):
        spans of ``include`` with no ``exclude`` span within ``pre``
        positions before or ``post`` after (defaults = direct overlap only,
        which for term spans means the same position). Exclusion affects
        matching only — the weight keeps the include term's statistics
        alone, like the reference. JVM nested higher-order filter; the
        exclude side joins only the include-matched docs."""
        stats = self.term_stats([include])
        if include not in stats:
            return self._empty_hits()
        w = self._multi_term_weight(np.float32(boost), [stats[include]])
        pos = self.positions_table()
        inc = pos.filter(
            (F.col("term_bucket") == term_bucket_of(include, self.buckets))
            & (F.col("term") == include)
        ).select("doc_id", F.col("positions").alias("ip"))
        exc = pos.filter(
            (F.col("term_bucket") == term_bucket_of(exclude, self.buckets))
            & (F.col("term") == exclude)
        ).select("doc_id", F.col("positions").alias("ep"))
        j = inc.join(exc, "doc_id", "left")
        ep = F.coalesce(F.col("ep"), F.array().cast("array<int>"))
        pre_l, post_l = F.lit(int(pre)), F.lit(int(post))
        kept = F.filter(
            F.col("ip"),
            lambda p: ~F.exists(ep, lambda q: (q >= p - pre_l)
                                & (q <= p + post_l)),
        )
        matched = j.select(
            "doc_id", F.size(kept).cast("double").alias("freq")
        )
        return self._span_topk(matched, w, k)

    def function_score(
        self, query: Query, value: str, k: int = 10, boost: float = 1.0,
    ) -> DataFrame:
        """FunctionScoreQuery analog (``queries/function/FunctionScoreQuery
        .java:243-252``): the wrapped query's matches re-scored by a
        DoubleValuesSource. ``value`` is a SQL expression over the query
        ``score`` and the docmap columns (turn_idx, role, ts, field_len,
        ...), evaluated in DOUBLE; final score = float32(factor * boost),
        with missing/negative/NaN factors scoring 0 exactly as the
        reference. ``boostByValue(q, field)`` ≡ value="score * <field>"."""
        scored = self._scored_all(query)
        if scored is None:
            return self._empty_hits()
        j = scored.join(self.docmap().drop("norm_byte"), "doc_id")
        factor = F.expr(value).cast("double")
        new_score = (
            F.when(
                factor.isNotNull() & ~F.isnan(factor) & (factor >= 0),
                (factor * F.lit(float(boost))).cast("float"),
            )
            .otherwise(F.lit(0.0).cast("float"))
            .alias("score")
        )
        return (
            j.select("doc_id", new_score)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def boost_by_query(
        self, query: Query, boost_match: Query, boost_value: float,
        k: int = 10,
    ) -> DataFrame:
        """FunctionScoreQuery.boostByQuery analog (``FunctionScoreQuery
        .java:101-106``): matches of ``boost_match`` have their score
        multiplied by ``boost_value`` (double multiply, one float32 cast);
        other docs keep their score unchanged."""
        scored = self._scored_all(query)
        if scored is None:
            return self._empty_hits()
        bq = rewrite_fixpoint(self._expand_multi_term(rewrite_fixpoint(boost_match)))
        bm = self._execute(bq, np.float32(1.0))
        if bm is None:
            out = scored
        else:
            hits = bm.select("doc_id", F.lit(True).alias("_boosted"))
            out = scored.join(hits, "doc_id", "left").select(
                "doc_id",
                F.when(
                    F.col("_boosted"),
                    (F.col("score").cast("double") * float(boost_value))
                    .cast("float"),
                ).otherwise(F.col("score")).alias("score"),
            )
        return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def profile(self, query: Query) -> DataFrame:
        """Query profiler analog (``sandbox/search/QueryProfilerIndexSearcher
        .java`` + ``QueryProfilerBreakdown``): a per-operator execution
        breakdown of one query. The reference instruments one execution
        with per-node nanosecond timers; on Spark the operator wall-times
        live in the Spark UI/driver metrics, so the analog reports the
        DETERMINISTIC breakdown those timings derive from — per-leaf
        postings volume (doc_freq / blocks / total_term_freq) and
        per-operator candidate/survivor doc counts, all from ONE postings
        scan + one aggregation (flat Boolean/term queries).

        Rows in fixed order: one ``leaf:<kind>`` row per clause (detail =
        term, docs = df, blocks = postings blocks, ttf), then operator
        rows ``candidates`` (distinct docs any clause touched, the
        disjunctive scan frontier), ``must_pass`` (all MUST+FILTER
        clauses matched), ``msm_pass`` (+minimum-should-match),
        ``excluded`` (killed by MUST_NOT after msm_pass), ``matched``
        (final live hits)."""
        q = rewrite_fixpoint(self._expand_multi_term(rewrite_fixpoint(query)))
        if isinstance(q, TermQuery):
            q = BooleanQuery(must=[q])
        if not (isinstance(q, BooleanQuery) and self._is_flat(q)):
            raise ValueError("profile supports flat Boolean/term queries")
        clauses = self._clauses_of(q, np.float32(1.0))
        stats = self._term_dict_rows([c.term for c in clauses])
        leaf_rows = []
        for i, c in enumerate(clauses):
            df, ttf, blocks = stats.get(c.term, (0, 0, 0))
            leaf_rows.append((i, f"leaf:{c.kind}", c.term, df, blocks, ttf))

        n_must = sum(1 for c in clauses if c.kind == "must")
        n_filter = sum(1 for c in clauses if c.kind == "filter")
        msm = q.min_should_match
        scored = self._live(self._scan_and_score(clauses))
        kinds = {c.clause_id: c.kind for c in clauses}
        kind_expr = F.create_map(
            *[x for cid, kd in kinds.items()
              for x in (F.lit(cid), F.lit(kd))])[F.col("clause_id")]
        agg = (
            scored.withColumn("kind", kind_expr)
            .groupBy("doc_id")
            .agg(
                F.count(F.when(F.col("kind") == "must", 1)).alias("mn"),
                F.count(F.when(F.col("kind") == "should", 1)).alias("sn"),
                F.count(F.when(F.col("kind") == "filter", 1)).alias("fn"),
                F.count(F.when(F.col("kind") == "must_not", 1)).alias("nn"),
            )
        )
        req = (F.col("mn") == n_must) & (F.col("fn") == n_filter)
        if n_must + n_filter == 0:
            msm_c = req & (F.col("sn") >= max(msm, 1))
        elif msm > 0:
            msm_c = req & (F.col("sn") >= msm)
        else:
            msm_c = req
        row = agg.agg(
            F.count("*").alias("candidates"),
            F.sum(req.cast("long")).alias("must_pass"),
            F.sum(msm_c.cast("long")).alias("msm_pass"),
            F.sum((msm_c & (F.col("nn") > 0)).cast("long")).alias("excluded"),
            F.sum((msm_c & (F.col("nn") == 0)).cast("long")).alias("matched"),
        ).collect()[0]
        base = len(leaf_rows)
        op_rows = [
            (base + i, node, "", int(row[col] or 0), None, None)
            for i, (node, col) in enumerate((
                ("candidates", "candidates"), ("must_pass", "must_pass"),
                ("msm_pass", "msm_pass"), ("excluded", "excluded"),
                ("matched", "matched"),
            ))
        ]
        return self.spark.createDataFrame(
            leaf_rows + op_rows,
            "seq int, node string, detail string, docs long, blocks long, "
            "ttf long").orderBy("seq")

    def function_match(self, value: str, predicate: str, k: int = 10,
                       boost: float = 1.0) -> DataFrame:
        """FunctionMatchQuery analog (``queries/function/FunctionMatchQuery
        .java:39-95``): every document whose DoubleValuesSource value
        satisfies a DoublePredicate matches, at CONSTANT score = boost
        (ConstantScoreWeight). ``value`` is a SQL expression over the
        docmap columns evaluated in DOUBLE and exposed to ``predicate`` as
        ``v``; a NULL value means advanceExact()==false — no match. The
        reference is an index linear scan; here it is one pushed-down
        docmap scan (no postings read).

        NaN values REACH the predicate exactly as the reference feeds NaN
        to the Java DoublePredicate (so ``isnan(v)`` predicates work) —
        but comparison OPERATORS inside the predicate follow Spark SQL
        semantics, where NaN orders above every double (``v >= 0`` is
        TRUE for NaN; Java's ``>=`` is false). For Java comparison parity
        write ``NOT isnan(v) AND <cmp>`` — the documented divergence;
        ``function_range``, whose comparisons are built-in, excludes NaN
        itself."""
        dm = self.docmap().select(
            "doc_id", F.expr(value).cast("double").alias("v"))
        out = self._live(
            dm.filter(F.col("v").isNotNull()).filter(F.expr(predicate)))
        return (
            out.select("doc_id",
                       F.lit(float(np.float32(boost))).cast("float")
                       .alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def function_range(self, value: str, lower: float | None = None,
                       upper: float | None = None,
                       include_lower: bool = True,
                       include_upper: bool = True, k: int = 10) -> DataFrame:
        """FunctionRangeQuery analog (``queries/function/FunctionRangeQuery
        .java:32-36`` + ``ValueSourceScorer.java:85-92``): matches docs
        whose value lies in the range; the SCORE IS the float32 value
        (-Inf mapped to -Float.MAX_VALUE). Docs without a value read
        0.0 — the classic FieldCache/FunctionValues default the reference
        range-scorer sees. A NaN value NEVER matches: the reference's
        range comparisons are Java double >=/<=, false for NaN — but
        Spark SQL orders NaN ABOVE every value, so the exclusion must be
        explicit. One docmap scan, no postings."""
        v = F.coalesce(F.expr(value).cast("double"), F.lit(0.0))
        cond = ~F.isnan(v)
        if lower is not None:
            cond = cond & ((v >= float(lower)) if include_lower
                           else (v > float(lower)))
        if upper is not None:
            cond = cond & ((v <= float(upper)) if include_upper
                           else (v < float(upper)))
        score32 = v.cast("float")
        score = F.when(
            F.isnan(score32) | (score32 == F.lit(float("-inf"))),
            F.lit(float(-np.finfo(np.float32).max)).cast("float"),
        ).otherwise(score32)
        dm = self.docmap().withColumn("_frq_score", score)
        out = self._live(dm.filter(cond))
        return (
            out.select("doc_id", F.col("_frq_score").alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def search_grouped(self, query: Query, field: str, k_per_group: int = 3) -> DataFrame:
        """Top-k hits per metadata-field group — the grouping-module analog
        (``lucene/grouping`` ≅ window rank per group). DF(value, doc_id,
        score, rank), ordered (value, rank)."""
        from pyspark.sql.window import Window

        scored = self._scored_all(query)
        if scored is None:
            return self.spark.createDataFrame(
                [], "value string, doc_id long, score float, rank int")
        dm = self.docmap().select("doc_id", F.col(field).cast("string").alias("value"))
        w = Window.partitionBy("value").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            scored.join(dm, "doc_id")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k_per_group)
            .select("value", "doc_id", "score", "rank")
            .orderBy("value", "rank")
        )

    def search_sorted(self, query: Query,
                      sort_field: str | list[tuple[str, bool]],
                      k: int = 10, ascending: bool = True) -> DataFrame:
        """Top-k by metadata field(s) instead of relevance — the
        TopFieldCollector / Sort analog (``TopFieldCollector.java:37``,
        multi-key ``Sort(SortField...)``). ``sort_field`` is one field
        name (with ``ascending``) or a list of (field, ascending) pairs
        evaluated in order, Lucene's SortField chain; the special field
        "score" sorts by relevance at that position (FIELD_SCORE, always
        descending-by-relevance when ascending=False). doc_id breaks all
        remaining ties. DF(doc_id, <fields...>, score)."""
        if isinstance(sort_field, str):
            fields = [(sort_field, ascending)]
        else:
            fields = list(sort_field)
        q = rewrite_fixpoint(self._expand_multi_term(rewrite_fixpoint(query)))
        # sort-congruent index (IndexWriterConfig.setIndexSort): docID order
        # == sort-key order, so top-k-by-field early-terminates on a docID
        # prefix/suffix instead of scanning every match
        # (TopFieldCollector.java:37 early termination re-expressed as
        # block-metadata range pruning). Appends break the order (manifest
        # "ordered" false) and disable the path; expunge preserves it.
        isort = self.manifest["config"].get("index_sort")
        if (
            isort
            and self.manifest.get("ordered", True)
            and len(fields) == 1
            and fields[0][0] == isort
            and (isinstance(q, (MatchAllDocsQuery, TermQuery))
                 or (isinstance(q, BooleanQuery) and self._is_flat(q)))
        ):
            return self._search_sorted_early(q, isort, k, fields[0][1])
        scored = self._live(self._execute(q, np.float32(1.0)))
        if scored is None:
            return self._empty_hits()
        meta = [f for f, _ in fields if f != "score"]
        dm = self.docmap().select("doc_id", *meta)
        keys = [
            (F.asc(f) if asc else F.desc(f)) for f, asc in fields
        ]
        return (
            scored.join(dm, "doc_id")
            .orderBy(*keys, F.asc("doc_id"))
            .limit(k)
            .select("doc_id", *meta, "score")
        )

    def _search_sorted_early(self, q: Query, field: str, k: int,
                             ascending: bool) -> DataFrame:
        """Early-terminating top-k-by-field over a sort-congruent index: the
        k smallest (asc) / largest (desc) matching docIDs ARE the top-k by
        the indexed field (docID order == sort-key order, doc_id breaking
        ties exactly as the exhaustive path does). Probes an expanding docID
        prefix/suffix — blocks wholly outside the range are never decoded
        (first_doc/last_doc metadata filter, pushed to the parquet scan) —
        growing 8x until k matches are found or the probe covers the index.
        Exact by construction: each probe's match set is complete within its
        range, so the first range holding >= k matches yields the global
        top-k."""
        n = self.local_doc_count
        est = max(self._match_estimate(q), 1)
        span = min(max(self.SORTED_PROBE_MIN_SPAN, (n * k * 4) // est + 1), n)
        dm = self.docmap()
        keys = (
            [F.asc(field), F.asc("doc_id")] if ascending
            else [F.desc(field), F.asc("doc_id")]
        )

        def probe(lo: int, hi: int):
            if isinstance(q, MatchAllDocsQuery):
                scored = dm.filter(
                    (F.col("doc_id") >= lo) & (F.col("doc_id") <= hi)
                ).select("doc_id", F.lit(1.0).cast("float").alias("score"))
            else:
                qq = q if isinstance(q, BooleanQuery) else BooleanQuery(must=[q])
                scored = self._flat_boolean(qq, np.float32(1.0),
                                            doc_lo=lo, doc_hi=hi)
            scored = self._live(scored)
            with_f = scored.join(
                dm.filter((F.col("doc_id") >= lo) & (F.col("doc_id") <= hi))
                .select("doc_id", field),
                "doc_id",
            ).select("doc_id", field, "score")
            return with_f.orderBy(*keys).limit(k)

        # small k (the overwhelmingly common case): collect the probe's
        # <= k rows — ONE Spark job per probe and the driver holds at most
        # k tiny rows. Huge k switches to count-based decisions so the
        # result rows never materialize on the driver (count + consumption
        # = 2 jobs/probe, the right trade only when k itself is the risk).
        small_k = k <= 10_000
        while True:
            lo, hi = (0, span - 1) if ascending else (n - span, n - 1)
            top = probe(lo, hi)
            if small_k:
                rows = top.collect()
                n_top = len(rows)
            else:
                n_top = top.count()
            if n_top < k and span < n:
                span = min(span * 8, n)
                continue
            # DESC tie fix: the exhaustive order breaks field ties by doc_id
            # ASC, but a docID-SUFFIX probe sees only the run's largest ids —
            # if the kth value's tie run starts below lo, extend the range to
            # the run's true start and re-probe (ASC is congruent as-is:
            # a tie run split at hi continues with larger doc_ids, which the
            # tie-break orders after the in-range ones anyway).
            if not ascending and n_top == k and lo > 0:
                # kth (last) row's value under DESC == min over the top-k
                vk = (rows[-1][field] if small_k
                      else top.agg(F.min(field).alias("vk")).first()["vk"])
                lo2row = dm.filter(F.col(field) >= vk).agg(
                    F.min("doc_id").alias("lo")).first()
                lo2 = int(lo2row["lo"]) if lo2row["lo"] is not None else lo
                if lo2 < lo:
                    top = probe(lo2, hi)
                    if small_k:
                        rows = top.collect()
            if small_k:
                return self.spark.createDataFrame(rows, top.schema)
            return top

    def _match_estimate(self, q: Query) -> int:
        """Upper-ish estimate of |matches| from term_dict df metadata alone
        (sizes the first early-termination probe; correctness never depends
        on it). Required conjunction: min clause df; pure disjunction: sum
        of clause dfs capped at doc_count; MatchAll: doc_count."""
        if isinstance(q, MatchAllDocsQuery):
            return self.doc_count
        if isinstance(q, TermQuery):
            st = self.term_stats([q.term])
            return st.get(q.term, (0, 0))[0]
        req = [c.term for c in (list(q.must) + list(q.filter))
               if isinstance(c, TermQuery)]
        opt = [c.term for c in q.should if isinstance(c, TermQuery)]
        st = self.term_stats(req + opt)
        if req:
            return min(st.get(t, (0, 0))[0] for t in req)
        return min(sum(st.get(t, (0, 0))[0] for t in opt), self.doc_count)

    def explain(self, query: Query, doc_id: int) -> dict:
        """Score breakdown for one (query, doc) — the ``Weight#explain`` /
        CheckHits idiom (``CheckHits.java:181-333``): returns the recomputed
        total plus per-clause components; ``explain(...)['value']`` must
        equal the score the search produced (asserted in tests)."""
        q = rewrite_fixpoint(self._expand_multi_term(rewrite_fixpoint(query)))
        if not isinstance(q, (TermQuery, BooleanQuery)):
            raise TypeError("explain supports flat term/boolean queries")
        if isinstance(q, TermQuery):
            q = BooleanQuery(must=[q])
        clauses = self._clauses_of(q, np.float32(1.0))
        norm_row = self.docmap().filter(F.col("doc_id") == doc_id).select(
            "norm_byte", "field_len").collect()
        if not norm_row:
            return {"match": False, "value": 0.0, "details": []}
        live = self._live(
            self.docmap().filter(F.col("doc_id") == doc_id).select("doc_id")
        )
        if live is not None and self.has_deletes and live.count() == 0:
            return {"match": False, "value": 0.0, "details": [],
                    "deleted": True}
        nb = int(norm_row[0]["norm_byte"])
        # ONE pushed-down scan over all the query's terms (docID-driven
        # block skip: only blocks whose range contains the doc decode),
        # instead of one Spark job per clause
        terms = sorted({c.term for c in clauses})
        buckets = sorted({term_bucket_of(t, self.buckets) for t in terms})
        blocks = self.postings.filter(
            F.col("term_bucket").isin(buckets) & F.col("term").isin(terms)
            & (F.col("first_doc") <= doc_id) & (F.col("last_doc") >= doc_id)
        ).select("term", "num_docs", "first_doc", "data")

        def decode_freq(batches):
            from lucene_spark.functions.codec import decode_block

            for pdf in batches:
                out_t, out_f = [], []
                for term, ndd, fdd, data in zip(
                    pdf["term"].to_numpy(object),
                    pdf["num_docs"].to_numpy(np.int64),
                    pdf["first_doc"].to_numpy(np.int64),
                    pdf["data"].to_numpy(object),
                ):
                    d, f, _ = decode_block(data, int(ndd), int(fdd))
                    hit = np.searchsorted(d, doc_id)
                    if hit < d.size and d[hit] == doc_id:
                        out_t.append(term)
                        out_f.append(int(f[hit]))
                if out_t:
                    yield pd.DataFrame({"term": out_t, "freq": out_f})

        freq_of = {
            r["term"]: int(r["freq"])
            for r in blocks.mapInPandas(
                decode_freq, schema="term string, freq long").collect()
        }
        details = []
        acc = np.float64(0.0)
        for c in clauses:
            freq = freq_of.get(c.term, 0)
            s = (
                float(self.sim.score(np.array([freq]), np.array([nb]), c.weight)[0])
                if freq else 0.0
            )
            if c.kind in ("must", "should") and freq:
                acc += np.float64(np.float32(s))
            details.append({
                "kind": c.kind, "term": c.term, "freq": freq,
                # stats-based similarities carry an opaque TermWeight —
                # surface its fields instead of a scalar
                "weight": (float(c.weight) if np.isscalar(c.weight)
                           else {a: getattr(c.weight, a)
                                 for a in getattr(c.weight, "__slots__", ())
                                 if not isinstance(getattr(c.weight, a),
                                                   list)}),
                "norm_byte": nb,
                "field_len": int(norm_row[0]["field_len"]),
                "score": s,
            })
        matches = all(d["freq"] > 0 for d in details if d["kind"] in ("must", "filter"))
        matches = matches and not any(
            d["freq"] > 0 for d in details if d["kind"] == "must_not"
        )
        n_should = sum(1 for d in details if d["kind"] == "should" and d["freq"] > 0)
        has_pos = any(d["kind"] in ("must", "filter") for d in details)
        msm = q.min_should_match if isinstance(q, BooleanQuery) else 0
        matches = matches and (n_should >= (msm if has_pos else max(msm, 1))
                               or (has_pos and msm == 0))
        return {
            "match": bool(matches),
            "value": float(np.float32(acc)) if matches else 0.0,
            "details": details,
        }

    def search_many(self, queries: dict[str, Query], k: int = 10) -> DataFrame:
        """Batched top-k for a WORKLOAD of flat Boolean/term queries in ONE
        postings scan — a capability the reference has no analog for (its
        searcher executes one query at a time): all queries' terms go into
        one pushed-down scan, each decoded block is scored once per
        (query, clause) pair, and a single groupBy((query, doc)) + per-query
        rank window produces every query's top-k. At corpus scale this
        amortizes the dominant cost (scan + decode) across the workload —
        the shape a training-data pipeline needs when probing one corpus
        with hundreds of labeling queries.

        Returns DF(query string, doc_id long, score float) with up to k
        rows per matching query, ordered by query, then (score desc, doc_id
        asc). Results are bit-identical to running search() per query
        (asserted in tests). Queries that are not flat Boolean/term raise
        ValueError.

        The batch takes search()'s driver-local route when ALL its queries'
        distinct terms together hold at most ``LOCAL_POSTINGS_MAX``
        postings: one pyarrow read for the batch, the combine kernel once
        per query, results computed eagerly into a local table whose
        ``collect()`` runs no Spark job.
        """
        from pyspark.sql.window import Window

        flats: dict[str, tuple[BooleanQuery, np.float32]] = {}
        for name, query in queries.items():
            q = rewrite_fixpoint(self._expand_multi_term(rewrite_fixpoint(query)))
            if isinstance(q, TermQuery):
                q = BooleanQuery(must=[q])
            if not (isinstance(q, BooleanQuery) and self._is_flat(q)):
                raise ValueError(f"{name}: search_many supports flat queries")
            flats[name] = (q, np.float32(1.0))
        hits = self._local_topk(flats, k)
        if hits is not None:
            names = sorted(hits)
            return local.hits_frame(
                self.spark,
                np.concatenate([np.zeros(0, np.int64)]
                               + [hits[n][0] for n in names]),
                np.concatenate([np.zeros(0, np.float32)]
                               + [hits[n][1] for n in names]),
                query=[n for n in names for _ in range(hits[n][0].size)])
        per_query = {name: (self._clauses_of(q, boost), q)
                     for name, (q, boost) in flats.items()}

        # global clause table: clause_id space is shared across queries
        all_clauses: list[_Clause] = []
        meta: list[tuple[str, str, int]] = []  # (query, kind, msm) per clause
        offset = 0
        for name, (clauses, q) in per_query.items():
            for c in clauses:
                all_clauses.append(
                    _Clause(offset + c.clause_id, c.kind, c.term, c.weight)
                )
                meta.append((name, c.kind, q.min_should_match))
            offset += len(clauses)

        matched = self._scan_and_score(all_clauses)
        qmap = F.create_map(*[
            x for cid, (nm, _, _) in enumerate(meta) for x in (F.lit(cid), F.lit(nm))
        ])
        kmap = F.create_map(*[
            x for cid, (_, kd, _) in enumerate(meta) for x in (F.lit(cid), F.lit(kd))
        ])
        m = matched.select(
            qmap[F.col("clause_id")].alias("query"),
            kmap[F.col("clause_id")].alias("kind"),
            "doc_id", "score",
        )
        agg = m.groupBy("query", "doc_id").agg(
            F.sum(F.when(F.col("kind") == "must", F.col("score").cast("double"))).alias("must_s"),
            F.count(F.when(F.col("kind") == "must", 1)).alias("must_n"),
            F.sum(F.when(F.col("kind") == "should", F.col("score").cast("double"))).alias("should_s"),
            F.count(F.when(F.col("kind") == "should", 1)).alias("should_n"),
            F.count(F.when(F.col("kind") == "filter", 1)).alias("filter_n"),
            F.count(F.when(F.col("kind") == "must_not", 1)).alias("not_n"),
        )
        # per-query membership constants joined in via literal maps
        def _imap(fn):
            return F.create_map(*[
                x for name, (clauses, q) in per_query.items()
                for x in (F.lit(name), F.lit(fn(clauses, q)))
            ])[F.col("query")]

        n_must_m = _imap(lambda cl, q: sum(1 for c in cl if c.kind == "must"))
        n_filter_m = _imap(lambda cl, q: sum(1 for c in cl if c.kind == "filter"))
        n_should_m = _imap(lambda cl, q: sum(1 for c in cl if c.kind == "should"))
        msm_m = _imap(lambda cl, q: q.min_should_match)
        cond = (
            (F.col("must_n") == n_must_m)
            & (F.col("filter_n") == n_filter_m)
            & (F.col("not_n") == 0)
            & F.when(n_must_m + n_filter_m == 0,
                     F.col("should_n") >= F.greatest(msm_m, F.lit(1)))
               .otherwise(
                   F.when(msm_m > 0, F.col("should_n") >= msm_m).otherwise(F.lit(True))
               )
        )
        # the scorer-tree float boundaries per query shape (same rules as
        # _combine_req_opt, expressed with the per-query constants)
        must_f = _f32(F.col("must_s"))
        should_f = _f32(F.coalesce(F.col("should_s"), F.lit(0.0)))
        score = (
            # pure filter/must_not queries score a constant 0.0f (must_s is
            # NULL over zero scoring rows — would otherwise surface as NaN)
            F.when((n_should_m == 0) & (n_must_m == 0), _f32(F.lit(0.0)))
            .when(n_should_m == 0, must_f)
            .when(n_must_m == 0, should_f)
            .when(msm_m > 0, _f32(F.col("must_s") + should_f.cast("double")))
            .otherwise(_f32(must_f.cast("double") + should_f.cast("double")))
        ).alias("score")
        ranked = self._live(agg.filter(cond).select("query", "doc_id", score))
        w = Window.partitionBy("query").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            ranked.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("query", "doc_id", "score")
            .orderBy("query", F.desc("score"), F.asc("doc_id"))
        )

    def search_colocated(self, query: Query, k: int = 10) -> DataFrame:
        """Doc-at-a-time flat-Boolean search over the doc-range co-located
        layout (build it once with
        ``lucene_spark.index.doclayout.build_doc_partitioned``) — the
        per-segment leaf-searcher model (``IndexSearcher.java:576-708``):
        each doc-range partition decodes its local blocks and combines
        clauses per doc IN NUMPY, emitting only its top-k candidates; the
        only shuffle in the whole query is the P*k-row final merge. Since
        every doc's postings live in exactly one partition (blocks are
        range-replicated, decoded postings range-filtered), local top-ks
        merge exactly. Results are bit-identical to search() (double sums
        of <=dozens of float32-valued terms are order-exact; asserted)."""
        layout = self.manifest.get("doc_layout")
        if not layout:
            raise ValueError(
                "no doc-range layout: run doclayout.build_doc_partitioned first"
            )
        q = rewrite_fixpoint(self._expand_multi_term(rewrite_fixpoint(query)))
        if isinstance(q, TermQuery):
            q = BooleanQuery(must=[q])
        if not (isinstance(q, BooleanQuery) and self._is_flat(q)):
            raise ValueError("search_colocated supports flat Boolean queries")
        if self.has_deletes:
            # tombstones cannot be applied AFTER the per-partition top-k
            # truncation (surviving docs ranked below k in a partition would
            # be lost) — with live deletes take the exhaustive plan, which
            # anti-joins before its limit. expunge_deletes restores the
            # doc-at-a-time path.
            scored = self._live(self._flat_boolean(q, np.float32(1.0)))
            return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        clauses = self._clauses_of(q, np.float32(1.0))
        if not any(c.kind in ("must", "should") for c in clauses):
            raise ValueError("filter/not-only queries have no scoring clause")
        msm = q.min_should_match
        terms = sorted({c.term for c in clauses})
        rng_sz = int(layout["range_size"])
        sim = self.sim
        kk = int(k)

        table = (
            self.spark.read.parquet(
                os.path.join(self.index_dir, "postings_by_doc")
            )
            .filter(F.col("term").isin(terms))
            .select("doc_part", "term", "num_docs", "first_doc", "data")
        )

        def leaf(key, pdf):
            part = int(key[0])
            lo, hi = part * rng_sz, (part + 1) * rng_sz
            postings = {}
            for term, (d, f, nb) in local.decode_terms(
                    pdf["term"].to_numpy(object),
                    pdf["num_docs"].to_numpy(np.int64),
                    pdf["first_doc"].to_numpy(np.int64),
                    pdf["data"].to_numpy(object)).items():
                m = (d >= lo) & (d < hi)
                postings[term] = (d[m], f[m], nb[m])
            udocs, usc = local.top_k(
                *local.combine_scored(postings, clauses, sim, msm), kk)
            return pd.DataFrame({"doc_id": udocs, "score": usc})

        leaves = table.groupBy("doc_part").applyInPandas(
            leaf, schema="doc_id long, score float"
        )
        return (
            self._live(leaves)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def search_parents(self, query: Query, k: int = 10,
                       score_mode: str = "max") -> DataFrame:
        """Parent-level top-k — the join-module analog
        (``join/.../ToParentBlockJoinQuery.java``: children indexed in the
        parent's block, child hits aggregated up with a ScoreMode). Here a
        conversation is the parent and its turns are the children, so the
        block-join is a groupBy(conv_id) over child matches with the
        ScoreMode aggregate (max | total | avg — ``ScoreMode.java``), then
        (score desc, conv_id asc) LIMIT k. Ties and float behavior: the
        aggregation is over float32 child scores in float64, cast back
        (total/avg); max is exact."""
        if score_mode not in ("max", "total", "avg"):
            raise ValueError(f"unknown score_mode {score_mode!r}")
        scored = self._scored_all(query)
        if scored is None:
            return self.spark.createDataFrame([], "conv_id string, score float")
        dm = self.docmap().select("doc_id", "conv_id")
        per_child = scored.join(dm, "doc_id")
        if score_mode == "max":
            agg = per_child.groupBy("conv_id").agg(F.max("score").alias("score"))
        elif score_mode == "total":
            agg = per_child.groupBy("conv_id").agg(
                F.sum(F.col("score").cast("double")).cast("float").alias("score")
            )
        else:
            agg = per_child.groupBy("conv_id").agg(
                (F.sum(F.col("score").cast("double")) / F.count("*"))
                .cast("float").alias("score")
            )
        return agg.orderBy(F.desc("score"), F.asc("conv_id")).limit(k)

    def _scored_all(self, query: Query) -> DataFrame | None:
        """EVERY matching (doc_id, score float) — no top-k cut. The same
        planning as ``search`` minus the collector: bare multi-term queries
        run the pushed-down expansion join, everything else the exhaustive
        executor (the co-located layout is a top-k router, irrelevant when
        all hits flow into a downstream aggregate)."""
        q = rewrite_fixpoint(query)
        jp = self._as_multi_term_cond(q)
        if jp is not None:
            return self._live(self._scored_expansion_join(*jp))
        q = rewrite_fixpoint(self._expand_multi_term(q))
        return self._live(self._execute(q, np.float32(1.0)))

    def search_joined(
        self,
        from_query: Query,
        from_field: str,
        to_df: DataFrame,
        to_field: str,
        k: int = 10,
        score_mode: str = "max",
        from_meta: DataFrame | None = None,
        to_id_col: str | None = None,
    ) -> DataFrame:
        """Query-time join — the ``JoinUtil.createJoinQuery`` analog
        (``join/JoinUtil.java:56``): run ``from_query`` on this index,
        aggregate the hit scores per distinct ``from_field`` value with
        ``score_mode`` (max | total | avg | none — ``ScoreMode.java``; the
        reference's TermsWithScoreCollector), then return the ``to_df``
        rows whose ``to_field`` equals one of those values, scored by the
        aggregate — DF(*to_df columns, score float) ordered (score desc,
        ``to_id_col`` asc).

        ``from_field`` resolves from the docmap when it is an indexed
        metadata column; otherwise from ``from_meta``, a DataFrame keyed by
        (conv_id, turn_idx) carrying the field (the ``more_like_this``
        source contract). Aggregation: max is exact float32; total/avg sum
        the float32 scores in float64 and cast back (same discipline as
        ``search_parents``); none = constant 1.0 (the reference's
        ScoreMode.None — pure filtering join).

        Scale shape (the reference's global-ordinals strategy translated):
        ALL from-side hits flow into ONE groupBy(from_field) — map-side
        partial aggregation bounds the shuffle by distinct join values, not
        hits; the aggregated key set broadcasts to the to-side when small
        (<= 2M values, the deletes-side threshold discipline) and shuffles
        both sides on the join key above that."""
        if score_mode not in ("max", "total", "avg", "none"):
            raise ValueError(f"unknown score_mode {score_mode!r}")
        from pyspark.sql.types import FloatType, StructField, StructType

        empty_schema = StructType(
            [*to_df.schema.fields, StructField("score", FloatType())])
        scored = self._scored_all(from_query)
        if scored is None:
            return self.spark.createDataFrame([], empty_schema)
        dm = self.docmap()
        if from_field in dm.columns:
            side = dm.select("doc_id", from_field)
        elif from_meta is not None:
            if from_field not in from_meta.columns:
                raise ValueError(
                    f"from_field {from_field!r} not in from_meta")
            side = dm.select("doc_id", "conv_id", "turn_idx").join(
                from_meta.select("conv_id", "turn_idx", from_field),
                ["conv_id", "turn_idx"],
            ).select("doc_id", from_field)
        else:
            raise ValueError(
                f"from_field {from_field!r} is not a docmap column; pass "
                "from_meta keyed by (conv_id, turn_idx)")
        vals = scored.join(side, "doc_id").filter(
            F.col(from_field).isNotNull())
        if score_mode == "none":
            agg = vals.select(from_field).distinct().withColumn(
                "score", F.lit(1.0).cast("float"))
        elif score_mode == "max":
            agg = vals.groupBy(from_field).agg(F.max("score").alias("score"))
        elif score_mode == "total":
            agg = vals.groupBy(from_field).agg(
                F.sum(F.col("score").cast("double"))
                .cast("float").alias("score"))
        else:
            agg = vals.groupBy(from_field).agg(
                (F.sum(F.col("score").cast("double")) / F.count("*"))
                .cast("float").alias("score"))
        if "score" in to_df.columns:
            # the output contract is (*to_df columns, score) — an existing
            # score column would make the join ambiguous; fail clearly
            raise ValueError(
                "to_df already has a 'score' column — rename it before "
                "search_joined")
        # materialize before the size probe: the count and the final join
        # would otherwise each run the whole from-query pipeline (the
        # aggregate is tiny — distinct join values). localCheckpoint, not
        # persist: lineage is cut, blocks are reclaimed by the
        # ContextCleaner when the frame is released — repeated calls don't
        # accumulate pinned storage
        agg = (agg.withColumnRenamed(from_field, "_join_key")
               .withColumnRenamed("score", "_join_score")
               .localCheckpoint(eager=True))
        n_keys = agg.count()
        if n_keys == 0:
            return self.spark.createDataFrame([], empty_schema)
        if n_keys <= 2_000_000:
            agg = F.broadcast(agg)
        joined = (
            to_df.join(agg, to_df[to_field] == agg["_join_key"])
            .drop("_join_key")
            .withColumnRenamed("_join_score", "score")
        )
        order = [F.desc("score")]
        if to_id_col is not None:
            order.append(F.asc(to_id_col))
        order.append(F.asc(to_field))
        return joined.orderBy(*order).limit(k)

    def suggest(self, prefix: str, k: int = 10) -> DataFrame:
        """Prefix completion from the term dictionary — the suggest-module
        analog (``lucene/suggest`` FST completion ≅ a pruned dictionary
        range scan ranked by corpus weight): DF(term, weight long) of the
        top-k terms starting with ``prefix``, ranked by total_term_freq
        desc then term asc (the module's default weight is a corpus
        frequency). The sorted term column makes the scan a row-group-pruned
        range read, never a full dictionary pass."""
        return (
            self.term_dict.filter(F.col("term").startswith(prefix))
            .select("term", F.col("total_term_freq").alias("weight"))
            .orderBy(F.desc("weight"), F.asc("term"))
            .limit(k)
        )

    def interval_expand(
        self, pattern: str, kind: str = "prefix", max_expansions: int = 128
    ):
        """Multi-term interval source (``Intervals.prefix`` /
        ``Intervals.wildcard``, ``Intervals.java:64,158-170``): expand the
        pattern against the term dictionary (row-group-pruned range scan for
        prefixes) into an OR over term sources, capped at
        ``max_expansions`` = the reference's DEFAULT_MAX_EXPANSIONS — more
        matches raise, exactly the reference's IllegalStateException
        contract. The collected expansion is at most 128 strings (driver-
        bounded by the cap, unlike a naive collect)."""
        from lucene_spark.query.intervals import or_

        if kind == "prefix":
            cond = F.col("term").startswith(pattern)
        elif kind == "wildcard":
            import fnmatch
            import re as _re

            # rlike is a PARTIAL match — anchor both ends (same as the
            # WildcardQuery expansion below)
            rx = "^" + fnmatch.translate(pattern).replace("\\Z", "$")
            cond = F.col("term").rlike(rx)
            # prefix-prune the dictionary scan up to the first wildcard char
            lit = _re.split(r"[*?\[]", pattern, 1)[0]
            if lit:
                cond = F.col("term").startswith(lit) & cond
        else:
            raise ValueError(f"unknown expansion kind {kind!r}")
        rows = (
            self.term_dict.filter(cond)
            .select("term")
            .orderBy("term")
            .limit(max_expansions + 1)
            .collect()
        )
        if len(rows) > max_expansions:
            raise TooManyClauses(
                f"{kind} {pattern!r} expands to more than {max_expansions} terms"
            )
        return or_(*[r["term"] for r in rows])

    def interval_fuzzy(
        self, term: str, max_edits: int = 2, max_expansions: int = 128
    ):
        """``Intervals.fuzzyTerm`` analog: OR over dictionary terms within
        ``max_edits`` Levenshtein edits (length window pre-filter + JVM
        levenshtein, the FuzzyQuery expansion's plan), capped at
        ``max_expansions`` like the other multi-term interval sources."""
        from lucene_spark.query.intervals import or_

        tl = F.lit(term)
        cond = (
            (F.abs(F.length("term") - F.lit(len(term))) <= max_edits)
            & (F.levenshtein("term", tl) <= max_edits)
        )
        rows = (
            self.term_dict.filter(cond)
            .select("term")
            .orderBy("term")
            .limit(max_expansions + 1)
            .collect()
        )
        if len(rows) > max_expansions:
            raise TooManyClauses(
                f"fuzzy {term!r} expands to more than {max_expansions} terms"
            )
        return or_(*[r["term"] for r in rows])

    def suggest_spell(self, term: str, k: int = 5, max_edits: int = 2,
                      distance: str = "osa") -> DataFrame:
        """DirectSpellChecker analog (``suggest/.../spell/DirectSpellChecker
        .java:50``): DF(term, score float, doc_freq long) of dictionary terms
        within ``max_edits`` edits of ``term``, sharing its first character
        (the reference's minPrefix=1 default), ranked by normalized
        similarity ``1 - dist/min(len_a, len_b)`` desc, then doc_freq desc,
        then term asc. ``distance``: "osa" (default — the reference's
        transposition-aware automaton semantics: "teh" -> "the" is ONE
        edit; ``functions/spell.py``) or "levenshtein" (classic, the
        reference's ``setDistance(new LevenshteinDistance())``). The
        first-char + length-window predicates keep the dictionary scan
        row-group-pruned on the sorted term column; for OSA a JVM
        ``levenshtein <= 2*max_edits`` pre-filter bounds the Python-side
        exact pass (one transposition costs <= 2 classic edits), so the
        vectorized UDF sees O(vocab slice) rows, never the corpus."""
        if not term:
            return self.spark.createDataFrame([], "term string, score float, doc_freq long")
        tl = F.lit(term)
        cand = self.term_dict.filter(
            (F.col("term") >= term[0])
            & (F.col("term") < chr(ord(term[0]) + 1))
            & (F.col("term") != term)
            & (F.abs(F.length("term") - F.lit(len(term))) <= max_edits)
        )
        if distance == "levenshtein":
            cand = cand.filter(F.levenshtein("term", tl) <= max_edits)
            dist = F.levenshtein("term", tl).cast("double")
        elif distance == "osa":
            cand = cand.filter(F.levenshtein("term", tl) <= 2 * max_edits)
            qt = term

            @F.pandas_udf("long")
            def _osa(terms: pd.Series) -> pd.Series:
                from lucene_spark.functions.spell import osa_distance_series

                return pd.Series(osa_distance_series(terms, qt))

            cand = cand.withColumn("_d", _osa(F.col("term"))).filter(
                F.col("_d") <= max_edits
            )
            dist = F.col("_d").cast("double")
        elif distance in ("jaro_winkler", "ngram", "lucene_levenshtein"):
            # pluggable StringDistance surface (DirectSpellChecker.
            # setDistance): candidates still come from the max_edits
            # enumeration (the reference's automaton gate), the plugged
            # distance supplies the SCORE directly (functions/spell.py
            # ports, compiled-class fuzzed). OSA pre-gate as above.
            cand = cand.filter(F.levenshtein("term", tl) <= 2 * max_edits)
            qt, dname, me = term, distance, max_edits

            @F.pandas_udf("float")
            def _plug(terms: pd.Series) -> pd.Series:
                from lucene_spark.functions.spell import (
                    jaro_winkler,
                    lucene_levenshtein,
                    ngram_similarity,
                    osa_distance,
                )

                fn = {"jaro_winkler": jaro_winkler,
                      "ngram": ngram_similarity,
                      "lucene_levenshtein": lucene_levenshtein}[dname]
                return pd.Series(
                    [float(fn(t, qt)) if osa_distance(t, qt) <= me
                     else float("nan") for t in terms.astype(str)],
                    dtype="float32")

            # Arrow maps the gate's NaN sentinel to SQL NULL
            cand = (cand.withColumn("_s", _plug(F.col("term")))
                    .filter(F.col("_s").isNotNull() & ~F.isnan("_s")))
            return (
                cand.select("term", F.col("_s").alias("score"), "doc_freq")
                .orderBy(F.desc("score"), F.desc("doc_freq"), F.asc("term"))
                .limit(k)
            )
        else:
            raise ValueError(f"unknown spell distance {distance!r}")
        sim = (
            F.lit(1.0) - dist / F.least(F.length("term"), F.lit(len(term))).cast("double")
        ).cast("float")
        return (
            cand.select("term", sim.alias("score"), "doc_freq")
            .orderBy(F.desc("score"), F.desc("doc_freq"), F.asc("term"))
            .limit(k)
        )

    def suggest_wordbreak(
        self,
        term: str,
        k: int = 5,
        max_changes: int = 1,
        min_break_length: int = 1,
        min_freq: int = 1,
        max_evaluations: int = 1000,
    ) -> DataFrame:
        """WordBreakSpellChecker.suggestWordBreaks analog
        (``suggest/.../spell/WordBreakSpellChecker.java:133``): split
        ``term`` into 2..max_changes+1 dictionary words ("helloworld" ->
        "hello world") — DF(suggestion string, changes int, freq long)
        ranked changes asc, freq desc, suggestion asc (the reference's
        default NUM_CHANGES_THEN_SUMMED_FREQUENCY sort; freq = summed
        doc_freq of the parts). Every part must be a dictionary term with
        doc_freq >= ``min_freq`` and length >= ``min_break_length``.

        Split candidates are enumerated DRIVER-SIDE (a term is <= 255
        chars; the combination count is capped by ``max_evaluations``
        exactly like the reference's maxEvaluations) and joined against
        the dictionary as a pushed-down ``term IN (parts)`` scan + one
        broadcast join — the dictionary itself is never collected. The
        enumeration is SHARED with the DuckDB twin
        (``functions/spell.enumerate_breaks``) so the two sides cannot
        desynchronize."""
        from lucene_spark.functions.spell import enumerate_breaks

        cands = enumerate_breaks(
            term, max_changes, min_break_length, max_evaluations)
        empty = "suggestion string, changes int, freq long"
        if not cands:
            return self.spark.createDataFrame([], empty)
        rows = [
            (sid, " ".join(parts), nb, len(parts), part)
            for sid, parts, nb in cands
            for part in parts
        ]
        cand_df = self.spark.createDataFrame(
            rows, "sid int, suggestion string, changes int, n int, part string")
        part_set = sorted({r[4] for r in rows})
        dic = self.term_dict.filter(
            (F.col("term").isin(part_set)) & (F.col("doc_freq") >= min_freq)
        ).select("term", "doc_freq")
        return (
            cand_df.join(F.broadcast(dic), cand_df["part"] == dic["term"])
            .groupBy("sid", "suggestion", "changes", "n")
            .agg(F.count("*").alias("hit"),
                 F.sum("doc_freq").cast("long").alias("freq"))
            .filter(F.col("hit") == F.col("n"))
            .select("suggestion", "changes", "freq")
            .orderBy(F.asc("changes"), F.desc("freq"), F.asc("suggestion"))
            .limit(k)
        )

    def suggest_wordcombine(
        self,
        terms: list[str],
        k: int = 5,
        max_changes: int = 1,
        max_combine_length: int = 20,
        min_freq: int = 1,
    ) -> DataFrame:
        """WordBreakSpellChecker.suggestWordCombinations analog
        (``suggest/.../spell/WordBreakSpellChecker.java:188``): join runs of
        2..max_changes+1 ADJACENT input terms into one dictionary word
        ("hello world" -> "helloworld") — DF(start int, length int,
        suggestion string, freq long) ranked freq desc, start asc. The run's
        concatenation must be a dictionary term with doc_freq >= min_freq
        and length <= max_combine_length (the reference's
        maxCombineWordLength). Enumeration shared with the twin
        (``functions/spell.enumerate_combinations``)."""
        from lucene_spark.functions.spell import enumerate_combinations

        cands = enumerate_combinations(terms, max_changes, max_combine_length)
        empty = "start int, length int, suggestion string, freq long"
        if not cands:
            return self.spark.createDataFrame([], empty)
        cand_df = self.spark.createDataFrame(
            cands, "start int, length int, suggestion string")
        dic = self.term_dict.filter(
            (F.col("term").isin(sorted({c[2] for c in cands})))
            & (F.col("doc_freq") >= min_freq)
        ).select("term", F.col("doc_freq").cast("long").alias("freq"))
        return (
            cand_df.join(F.broadcast(dic), cand_df["suggestion"] == dic["term"])
            .select("start", "length", "suggestion", "freq")
            .orderBy(F.desc("freq"), F.asc("start"), F.asc("length"))
            .limit(k)
        )

    def more_like_this(
        self,
        doc_id: int,
        source: DataFrame,
        k: int = 10,
        text_col: str = "text",
        max_query_terms: int = 25,
        min_term_freq: int = 2,
        min_doc_freq: int = 5,
        max_doc_freq: int | None = None,
    ) -> DataFrame:
        """MoreLikeThis analog (``queries/mlt/MoreLikeThis.java:624-679``):
        re-analyze the source doc's stored text, keep terms with
        tf >= min_term_freq and min_doc_freq <= df (<= max_doc_freq), score
        each as float32 ``tf * idf`` with the ClassicSimilarity idf
        ``(float)(ln((docCount+1)/(df+1)) + 1)``
        (``ClassicSimilarity.java:69-71``), take the top
        ``max_query_terms`` (score desc, term asc — the reference's PQ with a
        deterministic tie-break), and run them as a SHOULD BooleanQuery under
        the index similarity. Driver-side work is one stored-fields row +
        one doc's vocabulary, exactly the reference's per-doc cost; the
        query itself is the ordinary distributed Boolean plan."""
        from collections import Counter

        from lucene_spark.functions.analysis import analyze_one_chain
        from lucene_spark.query.ast import BooleanQuery, TermQuery

        dm = (
            self.docmap()
            .filter(F.col("doc_id") == int(doc_id))
            .select("conv_id", "turn_idx")
            .first()
        )
        if dm is None:
            raise KeyError(f"doc_id {doc_id} not in index")
        row = (
            source.filter(
                (F.col("conv_id") == dm["conv_id"])
                & (F.col("turn_idx") == int(dm["turn_idx"]))
            )
            .select(text_col)
            .first()
        )
        if row is None:
            raise KeyError(f"stored fields for doc_id {doc_id} not in source")
        analyzer = self.manifest["config"].get("analyzer", "standard")
        tokens, _, _ = analyze_one_chain(row[0] or "", analyzer)
        tf = Counter(tokens)
        cand = sorted(t for t, c in tf.items() if c >= min_term_freq)
        if not cand:
            return self._empty_hits()
        stats = self.term_stats(cand)
        dc = self.doc_count
        scored: list[tuple[np.float32, str]] = []
        for t in cand:
            df_t = stats.get(t, (0, 0))[0]
            if df_t < min_doc_freq or df_t == 0:
                continue
            if max_doc_freq is not None and df_t > max_doc_freq:
                continue
            idf = np.float32(np.log((dc + 1) / np.float64(df_t + 1)) + 1.0)
            scored.append((np.float32(np.float32(tf[t]) * idf), t))
        scored.sort(key=lambda x: (-x[0], x[1]))
        top = [t for _, t in scored[:max_query_terms]]
        if not top:
            return self._empty_hits()
        return self.search(
            BooleanQuery(should=[TermQuery(t) for t in top]), k
        )

    def span_containing(self, big, little, k: int = 10,
                        pivot: float = 1.0, boost: float = 1.0) -> DataFrame:
        """SpanContainingQuery analog
        (``queries/spans/SpanContainingQuery.java:31``): docs where a span
        of ``big`` contains a span of ``little`` — a thin wrapper over the
        intervals module's ``containing`` automaton, which has the same
        MATCH semantics (minimal big intervals containing a little
        interval). Scoring is the interval saturation function
        (``IntervalScorer``), not the reference's SpanScorer sloppyFreq —
        the documented divergence for the whole span family here; rank
        equivalence to ``search_intervals(containing(big, little))`` is
        identity by construction. ``big``/``little`` are term strings or
        IntervalsSource trees."""
        from lucene_spark.query.intervals import containing

        return self.search_intervals(containing(big, little), k, pivot, boost)

    def span_within(self, little, big, k: int = 10,
                    pivot: float = 1.0, boost: float = 1.0) -> DataFrame:
        """SpanWithinQuery analog (``queries/spans/SpanWithinQuery.java:30``):
        docs where a span of ``little`` lies inside a span of ``big`` —
        wrapper over the intervals ``contained_by`` automaton (same match
        set; see ``span_containing`` for the scoring note)."""
        from lucene_spark.query.intervals import contained_by

        return self.search_intervals(contained_by(little, big), k, pivot, boost)

    def search_covering(self, queries: list, min_match_expr: str,
                        k: int = 10) -> DataFrame:
        """CoveringQuery (``sandbox/search/CoveringQuery.java:40-120``,
        ``CoveringScorer.java:99-216``): like a SHOULD-only BooleanQuery
        whose minimumNumberShouldMatch is PER-DOC — a LongValuesSource,
        here a SQL expression over the docmap metadata row. A doc matches
        iff its clause-match count >= max(1, minimumNumberMatch(doc))
        (:132-138; a missing/NULL value means the doc can never match);
        score = double-sum of the MATCHING clauses' scores -> float32
        (:208-216, same boundary as the pure-disjunction Boolean path).

        Plan: per-clause scored sets union into ONE groupBy(doc_id)
        (count + double sum), then a doc_id join against the docmap for
        the min-match value — no driver-side collection; the clause cap
        is the same TooManyClauses guard as BooleanQuery."""
        if len(queries) > self.max_clause_count:
            raise TooManyClauses(
                f"CoveringQuery over {len(queries)} clauses exceeds "
                f"maxClauseCount={self.max_clause_count}")
        qs = [rewrite_fixpoint(self._expand_multi_term(rewrite_fixpoint(q)))
              for q in queries]
        if all(isinstance(q, (TermQuery, BoostQuery))
               and isinstance(getattr(q, "query", q), TermQuery)
               for q in qs):
            # all-term fast path: ONE pushed-down postings scan for every
            # clause (the flat-Boolean scan), not one scan per clause
            bq = BooleanQuery(should=list(qs))
            scored = self._scan_and_score(self._clauses_of(
                bq, np.float32(1.0)))
            agg = scored.groupBy("doc_id").agg(
                F.sum(F.col("score").cast("double")).alias("s"),
                F.count("*").alias("n"),
            )
        else:
            dfs = []
            for q in qs:
                d = self._execute(q, np.float32(1.0))
                if d is not None:
                    dfs.append(d.select("doc_id", "score"))
            if not dfs:
                return self.spark.createDataFrame(
                    [], "doc_id long, score float")
            u = dfs[0]
            for d in dfs[1:]:
                u = u.unionAll(d)
            agg = u.groupBy("doc_id").agg(
                F.sum(F.col("score").cast("double")).alias("s"),
                F.count("*").alias("n"),
            )
        # NULL must propagate (missing value -> minMatch = Long.MAX_VALUE,
        # :136-138) — greatest() would IGNORE the null and yield 1
        v = F.expr(min_match_expr).cast("long")
        mm = self.docmap().select(
            "doc_id",
            F.when(v.isNotNull(), F.greatest(v, F.lit(1))).alias("mm"),
        )
        hits = (
            agg.join(mm, "doc_id")
            .filter(F.col("n") >= F.col("mm"))
            .select("doc_id", _f32(F.col("s")).alias("score"))
        )
        return self._live(hits).orderBy(
            F.desc("score"), F.asc("doc_id")).limit(k)

    def search_diversified(self, query: Query, key_expr: str,
                           max_hits_per_key: int, k: int = 10) -> DataFrame:
        """DiversifiedTopDocsCollector analog
        (``misc/search/DiversifiedTopDocsCollector.java:55-150``): top-k
        where at most ``max_hits_per_key`` hits share a key (the
        reference's NumericDocValues key source = a SQL expression over
        the docmap row; a NULL/missing key maps to key 0, :141-146). The
        reference's streaming heap-with-per-key-cap maintains the
        max-weight feasible set under a partition-matroid constraint
        whose weights (score, -doc) are all distinct, so its result
        equals this closed form: rank hits (score desc, doc asc) within
        each key, keep ranks <= max_hits_per_key, then global top-k
        (exchange argument). Verified against a transcription of the
        collector loop in tests.

        Plan: one scored pass + ONE window over the hit set keyed by the
        diversity key (the hit set, not the corpus), then the global
        top-k — both shuffles are on the matched docs only."""
        from pyspark.sql import Window

        scored = self._scored_all(query)
        if scored is None:
            return self._empty_hits()
        keyed = scored.join(
            self.docmap().select(
                "doc_id",
                F.coalesce(F.expr(key_expr).cast("long"),
                           F.lit(0)).alias("div_key")),
            "doc_id",
        )
        w = Window.partitionBy("div_key").orderBy(
            F.desc("score"), F.asc("doc_id"))
        return (
            keyed.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= int(max_hits_per_key))
            .select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def search_multi_range(self, field: str, ranges: list[tuple], k: int = 10,
                           boost: float = 1.0) -> DataFrame:
        """MultiRangeQuery / SortedNumericDocValuesMultiRangeQuery analog
        (``sandbox/search/MultiRangeQuery.java:47-260``): a doc matches if
        the field value falls in ANY of the [lower, upper] ranges
        (inclusive, None = open end); constant score like the reference's
        ConstantScoreWeight. The reference merges overlapping ranges at
        rewrite (:169-200) to shrink the points-tree visit — a no-op under
        OR semantics; here Catalyst pushes the disjunctive range predicate
        into the docmap parquet scan, so merging is unnecessary."""
        dm = self.docmap()
        if field not in dm.columns:
            raise ValueError(f"unknown metadata field {field!r}")
        c = F.col(field)
        cond = F.lit(False)
        for lo, hi in ranges:
            r = F.lit(True)
            if lo is not None:
                r = r & (c >= lo)
            if hi is not None:
                r = r & (c <= hi)
            cond = cond | r
        hits = dm.filter(cond).select(
            "doc_id", F.lit(float(boost)).cast("float").alias("score"))
        return self._live(hits).orderBy(
            F.desc("score"), F.asc("doc_id")).limit(k)

    def search_phrase_wildcard(self, positions: list, k: int = 10,
                               max_multi_term_expansions: int = 128
                               ) -> DataFrame:
        """PhraseWildcardQuery analog
        (``sandbox/search/PhraseWildcardQuery.java:60-210``): an exact
        phrase whose positions may be multi-term (Prefix/Wildcard/Regexp/
        TermRange) queries. Single-term positions are checked FIRST — any
        absent term early-stops to no matches (:114-124); then the
        expansion budget is split across multi-term positions in order,
        maxExpansionsForTerm = remaining // remainingMultiTerms
        (:126-147), TRUNCATING in term order (the reference caps, it does
        not throw); zero expansions for a position also early-stops. The
        collected per-position term sets then score exactly like
        MultiPhraseQuery (TermsData -> the same PhraseWeight; idf =
        f32(double sum over ALL collected terms)). slop is not exposed:
        the engine's multi-term slots are exact-phrase (the reference
        default is slop=0 too).

        ``positions``: str (a single term) or a multi-term Query
        (PrefixQuery/WildcardQuery/...) per phrase slot."""
        if not positions:
            return self._empty_hits()
        single = [p for p in positions if isinstance(p, str)]
        multi = [p for p in positions if not isinstance(p, str)]
        if single:
            stats = self.term_stats(single)
            if any(t not in stats for t in single):
                return self._empty_hits()
        if len(positions) == 1:
            if multi:
                return self.search(multi[0], k)
            return self.search(TermQuery(single[0]), k)
        remaining = int(max_multi_term_expansions)
        remaining_multi = len(multi)
        slots: list[tuple[str, ...]] = []
        for p in positions:
            if isinstance(p, str):
                slots.append((p,))
                continue
            budget = remaining // remaining_multi
            cond = self._multi_term_cond(p)
            if cond is None:
                raise TypeError(
                    f"{type(p).__name__} is not a multi-term position")
            rows = (self.term_dict.filter(cond).select("term")
                    .orderBy("term").limit(max(budget, 0)).collect())
            if not rows:
                return self._empty_hits()
            terms = sorted(r[0] for r in rows)
            remaining -= len(terms)
            remaining_multi -= 1
            slots.append(tuple(terms))
        return self.search(MultiPhraseQuery(tuple(slots)), k)

    def search_term_automaton(self, ta, k: int = 10) -> DataFrame:
        """TermAutomatonQuery analog (``sandbox/search/TermAutomatonQuery
        .java:83``, ``TermAutomatonScorer.java:215-340``): a proximity
        query expressed as an automaton whose transitions are terms — the
        generalization of Phrase/MultiPhrase/SpanNear. Replays the
        reference rewrite (:493-573): empty det -> no docs; a "sausage"
        -> MultiPhraseQuery semantics where an ANY position is SKIPPED
        but still advances the phrase position (a one-token gap); any
        other shape runs the path-counting scorer: freq = number of
        accept-state events over det-level paths (multiset state sets —
        a registered-term position forks token-step AND ANY-step), score
        = BM25 over the summed idf of ALL registered terms with df > 0,
        like a phrase. Candidates = docs holding >= 1 registered term
        (the reference acts as a disjunction, :68-73); matching runs in
        one positions scan + one groupBy + an Arrow-batched per-doc
        simulation (see ``query/termautomaton.py``).

        ``ta``: a finished :class:`TermAutomaton`."""
        if not getattr(ta, "finished", False):
            raise ValueError("call TermAutomaton.finish() first")
        if ta.det_empty:
            return self._empty_hits()
        slots = ta.sausage()
        if slots is not None:
            if all(sl is not None for sl in slots):
                return self.search(
                    MultiPhraseQuery(tuple(tuple(sl) for sl in slots)), k)
            return self._gapped_multi_phrase(slots, k)
        reg = ta.terms  # registration order (TermAutomatonWeight:379-389)
        stats = self.term_stats(reg)
        present = [t for t in reg if t in stats]
        if not present:
            return self._empty_hits()
        w = self._multi_term_weight(
            np.float32(1.0), [stats[t] for t in present])
        tids = [ta._term_to_id[t] for t in present]
        n_s = len(present)
        j = self._slot_position_frame(
            [(t,) for t in present], require_all=False)

        def simulate(batches):
            for pdf in batches:
                docs_out = pdf["doc_id"].to_numpy(np.int64)
                freqs = np.zeros(len(pdf), dtype=np.float64)
                cols = [pdf[f"p{i}"].to_numpy(object) for i in range(n_s)]
                for r in range(len(pdf)):
                    ev: dict[int, list[int]] = {}
                    for i in range(n_s):
                        arr = cols[i][r]
                        if arr is None:
                            continue
                        for p in arr:
                            ev.setdefault(int(p), []).append(tids[i])
                    if ev:
                        freqs[r] = ta.doc_freq(sorted(ev.items()))
                yield pd.DataFrame({"doc_id": docs_out, "freq": freqs})

        matched = j.mapInPandas(
            simulate, schema="doc_id long, freq double"
        ).filter(F.col("freq") > 0)
        hits = self._score_freq_frame(matched, w)
        return self._live(hits).orderBy(
            F.desc("score"), F.asc("doc_id")).limit(k)

    def _gapped_multi_phrase(self, slots: list, k: int) -> DataFrame:
        """MultiPhraseQuery with EXPLICIT positions (``MultiPhraseQuery
        .Builder.add(terms, pos)``) as produced by the TermAutomatonQuery
        sausage rewrite: ``slots[i] is None`` = a skipped position the
        phrase bridges with exactly one arbitrary token. Matching: slot j
        must contain ``start + offset_j``; idf sums over the ADDED
        (non-gap) slots only, slot-then-term order — exactly what the
        reference's rewrite feeds MultiPhraseQuery."""
        real = [(i, tuple(sl)) for i, sl in enumerate(slots)
                if sl is not None]
        if not real:
            return self._empty_hits()
        stats = self.term_stats([t for _, sl in real for t in sl])
        present_slots = [tuple(t for t in sl if t in stats)
                         for _, sl in real]
        if any(not sl for sl in present_slots):
            return self._empty_hits()
        w = self._multi_term_weight(
            np.float32(1.0),
            [stats[t] for _, sl in real for t in sl if t in stats])
        offs = [i - real[0][0] for i, _ in real]
        j = self._slot_position_frame(present_slots)
        n_slots = len(present_slots)

        def adjacency(x):  # single-arg: pyspark inspects the arity
            c = F.lit(True)
            for i in range(1, n_slots):
                c = c & F.array_contains(F.col(f"p{i}"), x + offs[i])
            return c

        freq = F.size(F.filter(F.col("p0"), adjacency)).cast("double")
        matched = j.select("doc_id", freq.alias("freq")).filter(
            F.col("freq") > 0)
        hits = self._score_freq_frame(matched, w)
        return self._live(hits).orderBy(
            F.desc("score"), F.asc("doc_id")).limit(k)

    def doc_values_stats(self, query: Query, field_expr: str) -> DataFrame:
        """DocValuesStats analog (``misc/search/DocValuesStats.java:29-162``
        + ``DocValuesStatsCollector.java``): one row of statistics over a
        numeric docvalue (a SQL expression over the docmap row) across the
        query's matching docs — count, missing (matching docs with a NULL
        value), min, max, sum, mean, variance, stdev. The reference
        accumulates mean/variance with Welford's recurrence in doubles;
        here mean = sum/count and variance = sumsq/count - mean^2 are
        derived from EXACT integer sums (deterministic across engines,
        double-rounding-equal to Welford), population variance as the
        reference (:127-129 variance/count)."""
        scored = self._scored_all(query)
        if scored is None:
            empty = self.spark.range(1).select(
                F.lit(0).alias("count"), F.lit(0).alias("missing"))
            return empty
        vals = scored.select("doc_id").join(
            self.docmap().select(
                "doc_id", F.expr(field_expr).cast("long").alias("v")),
            "doc_id",
        )
        return vals.agg(
            F.count("v").alias("count"),
            (F.count("*") - F.count("v")).alias("missing"),
            F.min("v").alias("min"),
            F.max("v").alias("max"),
            F.sum("v").alias("sum"),
            (F.sum("v").cast("double") / F.count("v")).alias("mean"),
            (
                F.sum(F.col("v") * F.col("v")).cast("double") / F.count("v")
                - (F.sum("v").cast("double") / F.count("v"))
                * (F.sum("v").cast("double") / F.count("v"))
            ).alias("variance"),
            F.sqrt(
                F.sum(F.col("v") * F.col("v")).cast("double") / F.count("v")
                - (F.sum("v").cast("double") / F.count("v"))
                * (F.sum("v").cast("double") / F.count("v"))
            ).alias("stdev"),
        )

    def search_intervals(
        self,
        source,
        k: int = 10,
        pivot: float = 1.0,
        boost: float = 1.0,
    ) -> DataFrame:
        """IntervalQuery analog (``queries/intervals/IntervalQuery.java``):
        top-k DF(doc_id long, score float) where score is the saturation
        function of the doc's sloppy interval frequency — float32-faithful
        to ``IntervalScorer``/``IntervalScoreFunction`` (norms unused,
        norm = 1 in the reference scorer).

        ``source`` is an ``IntervalsSource`` tree from
        ``lucene_spark.query.intervals`` (term/ordered/unordered/maxgaps/
        maxwidth/phrase). Plan: ONE pushed-down positions scan over the leaf
        terms + ONE groupBy(doc_id) (the phrase plan's slot frame), then an
        Arrow-batched interval-automaton pass; only matching docs leave the
        UDF and only the global exact top-k sort follows."""
        from lucene_spark.query.intervals import score_batches

        leaves = source.leaves()
        if not leaves:
            return self._empty_hits()
        slots = [(t,) for t in leaves]
        j = self._slot_position_frame(slots, require_all=False)
        # source-specific presence predicate (AND across conjunction
        # children, OR across disjunction children) — data reduction only;
        # the automaton is already correct on empty position arrays
        j = j.filter(
            source.requires([F.size(F.col(f"p{i}")) > 0 for i in range(len(slots))])
        )
        scored = j.mapInPandas(
            score_batches(source, float(pivot), float(boost), len(slots)),
            schema="doc_id long, score float",
        )
        live = self._live(scored)
        return live.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def term_postings(self, term: str) -> DataFrame:
        """Decoded posting list of one term: DF(doc_id long, freq int) —
        the raw DocIdSetIterator surface (postings scan + block decode)."""
        bucket = term_bucket_of(term, self.buckets)
        scan = (
            self.postings.filter(
                (F.col("term_bucket") == bucket) & (F.col("term") == term)
            )
            .select("num_docs", "first_doc", "data")
            .repartition(self.spark.sparkContext.defaultParallelism)
        )

        def decode(batches):
            from lucene_spark.functions.codec import decode_block

            for pdf in batches:
                docs_out, freqs_out = [], []
                for nd, fd, data in zip(
                    pdf["num_docs"].to_numpy(np.int64),
                    pdf["first_doc"].to_numpy(np.int64),
                    pdf["data"].to_numpy(object),
                ):
                    docs, freqs, _ = decode_block(data, int(nd), int(fd))
                    docs_out.append(docs)
                    freqs_out.append(freqs)
                if docs_out:
                    yield pd.DataFrame(
                        {
                            "doc_id": np.concatenate(docs_out),
                            "freq": np.concatenate(freqs_out).astype(np.int32),
                        }
                    )

        return scan.mapInPandas(decode, schema="doc_id long, freq int")

    # ------------------------------------------------------------ expansion

    @staticmethod
    def _multi_term_cond(q: Query):
        """Term-column predicate for a multi-term query, or None. The same
        expression serves the term_dict scan (collect rewrite) and the
        postings scan (join path) — prefix/range push down to parquet
        row-group min/max on the sorted term column."""
        if isinstance(q, PrefixQuery):
            return F.col("term").startswith(q.prefix)
        if isinstance(q, WildcardQuery):
            import fnmatch
            return F.col("term").rlike("^" + fnmatch.translate(q.pattern).replace("\\Z", "$"))
        if isinstance(q, RegexpQuery):
            # Lucene RegExp SYNTAX (not Java regex): translate the grammar
            # (predefined classes, <n-m> intervals, quoted strings, '#'/'@',
            # iterative quantifiers) and AND the top-level intersection
            # operands; anchored = whole-term match (query/regexp.py)
            from lucene_spark.query.regexp import translate_regexp

            pats = translate_regexp(q.pattern)
            cond = F.col("term").rlike("^(?:" + pats[0] + ")$")
            for p in pats[1:]:
                cond = cond & F.col("term").rlike("^(?:" + p + ")$")
            return cond
        if isinstance(q, TermRangeQuery):
            cond = F.lit(True)
            if q.lower is not None:
                cond = cond & (
                    F.col("term") >= q.lower if q.include_lower else F.col("term") > q.lower
                )
            if q.upper is not None:
                cond = cond & (
                    F.col("term") <= q.upper if q.include_upper else F.col("term") < q.upper
                )
            return cond
        if isinstance(q, TermInSetQuery):
            return F.col("term").isin(list(q.terms))
        return None

    @staticmethod
    def _regexp_plan(pattern: str):
        """("regex", [bodies]) when the pattern has a lookahead-free regex
        translation, ("automaton", ast) when it needs the derivative
        automaton (nested intersection — ``query/automaton.py``). Named
        automata / syntax errors raise from either parser, identically."""
        from lucene_spark.query.automaton import parse_ast
        from lucene_spark.query.regexp import (
            UnsupportedRegexpError, translate_regexp,
        )

        try:
            return ("regex", translate_regexp(pattern))
        except UnsupportedRegexpError:
            # nested intersection — parse_ast ACCEPTS it (and re-raises
            # the same error for named automata / oversized repetitions)
            return ("automaton", parse_ast(pattern))

    def _automaton_term_filter(self, df: DataFrame, pattern: str) -> DataFrame:
        """Exact automaton membership over a (small, distinct-term) frame —
        the ``Terms.intersect`` analog: the reference walks the term dict
        with a CompiledAutomaton (``core/index/Terms.java:60``); here the
        dictionary batch streams through the lazy derivative DFA in one
        Arrow stage. Never applied to the corpus row path."""
        schema = df.schema

        def verify(batches):
            from lucene_spark.query.automaton import RegexpMatcher

            m = RegexpMatcher(pattern)
            for pdf in batches:
                mask = np.fromiter(
                    (m.matches(t) for t in pdf["term"]), bool, len(pdf)
                )
                out = pdf[mask]
                if len(out):
                    yield out

        return df.mapInPandas(verify, schema=schema)

    def _as_multi_term_cond(self, q: Query):
        """(cond, boost, verify_pattern) when q is a bare (possibly
        Boost-wrapped) multi-term query eligible for the join-based
        expansion, else None. ``verify_pattern`` is non-None only for
        Regexp patterns needing the automaton layer: ``cond`` is then a
        sound SUPERSET pushdown (every ``&`` weakened to ``|``) and the
        per-term frame is re-verified exactly before scoring."""
        if hasattr(self.sim, "term_weight"):
            # stats-based similarities need each expanded term's
            # totalTermFreq, which block metadata alone cannot supply —
            # route through the driver-bounded SHOULD rewrite instead
            # (TooManyClauses-capped, full TermStatistics per clause)
            return None
        boost = np.float32(1.0)
        if isinstance(q, BoostQuery) and not isinstance(q.query, BoostQuery):
            inner = q.query
            boost = np.float32(q.boost)
        else:
            inner = q
        if isinstance(inner, RegexpQuery):
            kind, payload = self._regexp_plan(inner.pattern)
            if kind == "automaton":
                from lucene_spark.query.automaton import superset_regex

                cond = F.col("term").rlike(
                    "^(?:" + superset_regex(payload) + ")$"
                )
                return cond, boost, inner.pattern
        cond = self._multi_term_cond(inner)
        if cond is None:
            return None
        return cond, boost, None

    def _scored_expansion_join(
        self, cond, boost: np.float32, verify_pattern: str | None = None
    ) -> DataFrame:
        """Score a multi-term expansion WITHOUT materializing terms on the
        driver (VERDICT r1 item 3; reference contrast: Lucene's scoring
        rewrite materializes clauses and trips TooManyClauses,
        ``IndexSearcher.java:898`` — the join path is the distributed analog
        of its filter rewrites, which have no cap).

        Plan: push ``cond`` into the postings scan (row-group pruning on the
        sorted term column for prefix/range); per-term df = metadata-only
        groupBy(sum(num_docs)) over the matched blocks (no postings decode);
        broadcast-join df back; decode+score each block with its term's
        weight (idf computed in the UDF with the exact float32 op order);
        one groupBy(doc_id) sums clause scores in double and casts to f32 —
        bit-identical to the SHOULD-of-TermQueries rewrite."""
        blocks = self.postings.filter(cond).select(
            "term", "num_docs", "first_doc", "data"
        )
        df_by_term = blocks.groupBy("term").agg(
            F.sum("num_docs").cast("long").alias("df")
        )
        if verify_pattern is not None:
            # cond was a superset pushdown; exact automaton verify on the
            # distinct-term frame (vocabulary-sized) — the subsequent inner
            # join drops the non-matching terms' blocks
            df_by_term = self._automaton_term_filter(df_by_term, verify_pattern)
        scan = (
            blocks.join(F.broadcast(df_by_term), "term")
            .select("num_docs", "first_doc", "data", "df")
            .repartition(self.spark.sparkContext.defaultParallelism)
        )
        sim = self.sim
        n_docs = self.doc_count
        boost_f = np.float32(boost)

        def decode_score(batches):
            from lucene_spark.functions.codec import decode_block

            for pdf in batches:
                out_d, out_s = [], []
                for nd, fd, data, dfv in zip(
                    pdf["num_docs"].to_numpy(np.int64),
                    pdf["first_doc"].to_numpy(np.int64),
                    pdf["data"].to_numpy(object),
                    pdf["df"].to_numpy(np.int64),
                ):
                    d, f, nb = decode_block(data, int(nd), int(fd))
                    # per-term weight computed executor-side from the
                    # metadata df (exact float32 op order via the sim)
                    w = np.float32(boost_f * sim.idf(int(dfv), n_docs))
                    out_d.append(d)
                    out_s.append(sim.score(f, nb, w))
                if out_d:
                    yield pd.DataFrame(
                        {"doc_id": np.concatenate(out_d),
                         "score": np.concatenate(out_s)}
                    )

        per_clause = scan.mapInPandas(decode_score, schema="doc_id long, score float")
        return per_clause.groupBy("doc_id").agg(
            _f32(F.sum(F.col("score").cast("double"))).alias("score")
        )

    def search_fuzzy_like_this(
        self, fields: list[tuple[str, int, int]], k: int = 10,
        max_num_terms: int = 25, ignore_tf: bool = False,
        max_variants_per_term: int = 50,
    ) -> DataFrame:
        """FuzzyLikeThisQuery analog (``sandbox/queries/FuzzyLikeThisQuery
        .java:150-290``). ``fields`` = [(query_string, max_edits,
        prefix_length)] over the text field (the reference's addTerms
        calls). Per DISTINCT analyzed source term (first-occurrence
        order): OSA fuzzy expansion — transpositions=true like the
        reference's FuzzyTermsEnum — capped at ``max_variants_per_term``
        by (boost desc, term asc), boost = 1f exact match else
        f32(1 - f32(ed)/f32(min(lens))) (``FuzzyTermsEnum.java:250-257``);
        variant score = f32(f32(boost²) * ClassicSimilarity.idf(df_src,
        N)) where df_src is the SOURCE term's df, falling back to the
        mean variant df when absent (:195-199; the reference averages
        over its boost-pruned enumeration, we average the full
        in-distance set — documented divergence reachable only for
        absent query terms). The global top ``max_num_terms`` variants
        by (score desc, term asc) become SHOULD clauses
        BoostQuery(TermQuery(variant, df_override=1), score) — the
        ARTIFICIAL df=ttf=1 TermStates of newTermQuery (:219-236) — or
        ConstantScore clauses when ``ignore_tf``. Expansion is
        driver-bounded (<= 50 rows x query terms collected); scoring
        runs the ordinary distributed Boolean path."""
        from lucene_spark.functions.analysis import analyze_one_chain

        analyzer = self.manifest["config"].get("analyzer", "standard")
        n_docs = self.doc_count
        candidates: list[tuple[np.float32, str, str]] = []
        seen: set[str] = set()
        for qs, max_edits, prefix_len in fields:
            toks, _, _ = analyze_one_chain(qs or "", analyzer)
            for src in toks:
                if src in seen:
                    continue
                seen.add(src)
                tl = len(src)
                cand = self.term_dict.select("term", "doc_freq").filter(
                    F.abs(F.length("term") - F.lit(tl)) <= max_edits
                )
                if prefix_len > 0:
                    cand = cand.filter(
                        F.col("term").startswith(src[:prefix_len]))
                # OSA exact pass over a classic-levenshtein pre-gate
                # (one transposition costs <= 2 classic edits)
                cand = cand.filter(
                    F.levenshtein("term", F.lit(src)) <= 2 * max_edits)
                qt, me = src, max_edits

                @F.pandas_udf("long")
                def _osa(terms: pd.Series) -> pd.Series:
                    from lucene_spark.functions.spell import (
                        osa_distance_series,
                    )

                    return pd.Series(osa_distance_series(terms, qt))

                rows = (
                    cand.withColumn("_d", _osa(F.col("term")))
                    .filter(F.col("_d") <= me)
                    .collect()
                )
                if not rows:
                    continue
                df_src = next(
                    (int(r["doc_freq"]) for r in rows if r["term"] == src),
                    0,
                )
                if df_src == 0:
                    df_src = (sum(int(r["doc_freq"]) for r in rows)
                              // len(rows))
                idf = np.float32(
                    np.log((n_docs + 1) / np.float64(df_src + 1)) + 1.0)
                scored = []
                for r in rows:
                    ed = int(r["_d"])
                    if ed == 0:
                        b = np.float32(1.0)
                    else:
                        m = min(len(r["term"]), tl)
                        b = np.float32(1.0) - np.float32(ed) / np.float32(m)
                    scored.append((b, r["term"]))
                scored.sort(key=lambda x: (-float(x[0]), x[1]))
                for b, v in scored[:max_variants_per_term]:
                    candidates.append(
                        (np.float32(np.float32(b * b) * idf), v, src))
        if not candidates:
            return self._empty_hits()
        candidates.sort(key=lambda x: (-float(x[0]), x[1]))
        clauses: list[Query] = []
        for score, v, _src in candidates[:max_num_terms]:
            tq: Query = TermQuery(v, df_override=1)
            if ignore_tf:
                tq = ConstantScoreQuery(tq)
            clauses.append(BoostQuery(tq, float(score)))
        return self.search(BooleanQuery(should=clauses), k)

    def _expand_multi_term(self, q: Query) -> Query:
        """MultiTermQuery rewrite against term_dict with predicate pushdown
        (PrefixQuery/WildcardQuery/TermRangeQuery/TermInSetQuery ->
        OR-of-terms; MultiTermQuery.java rewrite framework analog). The
        driver-side term list is bounded by ``max_clause_count``
        (TooManyClauses, ``IndexSearcher.java:80,898``)."""
        verify_pattern = None
        if isinstance(q, RegexpQuery):
            kind, payload = self._regexp_plan(q.pattern)
            if kind == "automaton":
                # nested intersection: superset pushdown on the dictionary
                # scan + exact derivative-DFA verify (distributed, before
                # the capped collect)
                from lucene_spark.query.automaton import superset_regex

                cond = F.col("term").rlike(
                    "^(?:" + superset_regex(payload) + ")$"
                )
                verify_pattern = q.pattern
            else:
                cond = self._multi_term_cond(q)
        else:
            cond = self._multi_term_cond(q)
        if cond is not None:
            pass
        elif isinstance(q, FuzzyQuery):
            return self._expand_fuzzy(q)
        elif isinstance(q, BoostQuery):
            return BoostQuery(self._expand_multi_term(q.query), q.boost)
        elif isinstance(q, ConstantScoreQuery):
            return ConstantScoreQuery(self._expand_multi_term(q.query))
        elif isinstance(q, DisjunctionMaxQuery):
            return DisjunctionMaxQuery(
                tuple(self._expand_multi_term(c) for c in q.disjuncts), q.tie_breaker
            )
        elif isinstance(q, BooleanQuery):
            return BooleanQuery(
                [self._expand_multi_term(c) for c in q.must],
                [self._expand_multi_term(c) for c in q.should],
                [self._expand_multi_term(c) for c in q.filter],
                [self._expand_multi_term(c) for c in q.must_not],
                q.min_should_match,
            )
        else:
            return q
        cap = self.max_clause_count
        matched = self.term_dict.filter(cond).select("term")
        if verify_pattern is not None:
            matched = self._automaton_term_filter(matched, verify_pattern)
        rows = matched.limit(cap + 1).collect()
        if len(rows) > cap:
            raise TooManyClauses(
                f"{type(q).__name__} expands to more than {cap} terms "
                "(max_clause_count); use the join-based search() path"
            )
        terms = sorted(r[0] for r in rows)
        if not terms:
            return MatchNoDocsQuery()
        if len(terms) == 1:
            return TermQuery(terms[0])
        return BooleanQuery(should=[TermQuery(t) for t in terms], min_should_match=1)

    def _expand_fuzzy(self, q: FuzzyQuery) -> Query:
        """FuzzyQuery -> SHOULD of boosted terms within max_edits Levenshtein
        (term_dict scan with prefix pushdown + JVM levenshtein), with the
        reference's df BLENDING (``TopTermsBlendedFreqScoringRewrite`` /
        ``BlendedTermQuery.java:47``): every expanded term's idf uses the
        MAX doc_freq across the expansion set, so a rare misspelling cannot
        outscore the common spelling it resembles."""
        cand = self.term_dict.select("term", "doc_freq")
        if q.prefix_length > 0:
            cand = cand.filter(F.col("term").startswith(q.term[: q.prefix_length]))
        # cheap length pre-filter, then exact edit distance (both JVM-side)
        tlen = len(q.term)
        cand = cand.filter(
            (F.length("term") >= tlen - q.max_edits)
            & (F.length("term") <= tlen + q.max_edits)
        ).withColumn("ed", F.levenshtein(F.col("term"), F.lit(q.term)))
        rows = (
            cand.filter(F.col("ed") <= q.max_edits)
            .withColumn(
                "boost",
                F.lit(1.0)
                - F.col("ed") / F.least(F.length("term"), F.lit(tlen)).cast("double"),
            )
            .orderBy(F.desc("boost"), F.asc("term"))
            .limit(q.max_expansions)
            .collect()
        )
        if not rows:
            return MatchNoDocsQuery()
        df_blend = max(int(r["doc_freq"]) for r in rows)
        clauses: list[Query] = [
            TermQuery(r["term"], df_override=df_blend)
            if float(r["boost"]) == 1.0
            else BoostQuery(TermQuery(r["term"], df_override=df_blend),
                            float(r["boost"]))
            for r in rows
        ]
        if len(clauses) == 1:
            return clauses[0]
        return BooleanQuery(should=clauses, min_should_match=1)

    def _blended_rewrite(self, q: BlendedTermQuery) -> Query:
        """Resolve BlendedTermQuery against live index stats
        (``core/search/BlendedTermQuery.java:274-299``): df = max(doc_freq)
        over the term set (absent terms contribute 0, ``:283-287``), every
        per-term query scores with that blended df (``adjustFrequencies``,
        ``:320-341``; our ``TermQuery.df_override``), then the sub-queries
        merge via DisMax(tie_breaker) — DISJUNCTION_MAX_REWRITE, ``:190`` —
        or a SHOULD BooleanQuery (BOOLEAN_REWRITE, ``:139-147``)."""
        stats = self.term_stats(list(q.terms))
        if not stats:
            return MatchNoDocsQuery()
        df_blend = max(df for df, _ in stats.values())
        boosts = q.boosts or tuple(1.0 for _ in q.terms)
        subs: list[Query] = []
        for t, b in zip(q.terms, boosts):
            tq: Query = TermQuery(t, df_override=df_blend)
            if float(b) != 1.0:
                tq = BoostQuery(tq, float(b))
            subs.append(tq)
        if q.rewrite_method == "bool":
            return BooleanQuery(should=subs, min_should_match=1)
        return DisjunctionMaxQuery(tuple(subs), float(q.tie_breaker))

    # ------------------------------------------------------------ execution

    def _execute(self, q: Query, boost: np.float32) -> DataFrame | None:
        """Returns DF(doc_id long, score float) of all matches, or None."""
        if isinstance(q, MatchNoDocsQuery):
            return None
        if isinstance(q, BoostQuery):
            return self._execute(q.query, np.float32(boost * np.float32(q.boost)))
        if isinstance(q, MatchAllDocsQuery):
            return self.docmap().select(
                "doc_id", F.lit(float(boost)).cast("float").alias("score")
            )
        if isinstance(q, TermQuery):
            df = self._flat_boolean(BooleanQuery(must=[q]), boost)
            return df
        if isinstance(q, (FieldRangeQuery, FieldEqualsQuery)):
            return self._field_filter(q, boost)
        if isinstance(q, PhraseQuery):
            return self._phrase(q, boost)
        if isinstance(q, MultiPhraseQuery):
            return self._multi_phrase(q, boost)
        if isinstance(q, SpanNearQuery):
            return self._span_near(q, boost)
        if isinstance(q, SynonymQuery):
            return self._synonym(q, boost)
        if isinstance(q, DisjunctionMaxQuery):
            return self._dismax(q, boost)
        if isinstance(q, BlendedTermQuery):
            return self._execute(self._blended_rewrite(q), boost)
        if isinstance(q, ConstantScoreQuery):
            inner = self._execute(q.query, np.float32(1.0))
            if inner is None:
                return None
            return inner.select(
                "doc_id", F.lit(float(boost)).cast("float").alias("score")
            )
        if isinstance(q, BooleanQuery):
            if self._is_flat(q):
                return self._flat_boolean(q, boost)
            return self._nested_boolean(q, boost)
        raise TypeError(f"cannot execute {type(q).__name__}")

    def _field_filter(self, q, boost: np.float32) -> DataFrame | None:
        """Metadata predicate over the docmap -> constant-score doc set
        (PointRangeQuery / FieldExistsQuery analog; plain columnar filter,
        pushed to parquet by Catalyst)."""
        dm = self.docmap()
        if q.field not in dm.columns:
            raise ValueError(f"unknown metadata field {q.field!r}")
        c = F.col(q.field)
        if isinstance(q, FieldEqualsQuery):
            cond = c.isNotNull() if q.value is None else (c == q.value)
        else:
            cond = F.lit(True)
            if q.lower is not None:
                cond = cond & (c >= q.lower if q.include_lower else c > q.lower)
            if q.upper is not None:
                cond = cond & (c <= q.upper if q.include_upper else c < q.upper)
        return dm.filter(cond).select(
            "doc_id", F.lit(float(boost)).cast("float").alias("score")
        )

    # ------------------------------------------------------------ pruning

    def search_term_pruned(self, term: str, k: int = 10,
                           probe_blocks: int = 8) -> DataFrame:
        """Top-k for one term with block-max pruning (ImpactsDISI /
        MaxScoreCache analog, ``ImpactsDISI.java:67-90``): score-safe and
        rank-identical to the exhaustive path by construction.

        Pass 1 (metadata only): per-block score upper bound from the stored
        (max_freq, min_norm) impacts; decode just the ``probe_blocks``
        highest-bound blocks (TakeOrdered on block metadata — never a
        driver-side scan of the posting list) and take the kth actual score
        as threshold θ (a lower bound of the final kth score).
        Pass 2: decode only blocks whose upper bound ≥ θ.

        The bound is computed in float64 with a safety margin so float32
        rounding can never push a real score above it."""
        if self.sim.name != "bm25":
            raise ValueError(
                "block-max pruning derives impact upper bounds from the "
                "BM25 closed form; use search() for other similarities"
            )
        stats = self.term_stats([term])
        if term not in stats:
            return self._empty_hits()
        w = bm25.weight(1.0, bm25.idf(stats[term][0], self.doc_count))
        bucket = term_bucket_of(term, self.buckets)
        blocks = self.postings.filter(
            (F.col("term_bucket") == bucket) & (F.col("term") == term)
        ).select("block_id", "segment_id", "num_docs", "first_doc", "data",
                 "impact_freqs", "impact_norms")

        inv_lit = F.array(*[F.lit(float(x)) for x in self.cache])
        wd = float(w)
        ub_pair = F.zip_with(
            F.col("impact_freqs").cast("array<double>"),
            F.transform(
                F.col("impact_norms"),
                lambda nb: F.element_at(inv_lit, (nb.bitwiseAND(F.lit(255))) + 1),
            ).cast("array<double>"),
            lambda f, i: F.lit(wd) - F.lit(wd) / (F.lit(1.0) + f * i),
        )
        ub = (
            F.aggregate(ub_pair, F.lit(0.0), lambda a, x: F.greatest(a, x))
            * F.lit(1.0 + 1e-5) + F.lit(1e-6)
        ).alias("ub")
        with_ub = blocks.select("*", ub)

        probe = with_ub.orderBy(F.desc("ub")).limit(probe_blocks)
        probed = self._live(self._decode_score_blocks(probe, w))
        top = probed.orderBy(F.desc("score"), F.asc("doc_id")).limit(k).collect()
        if len(top) >= k:
            theta = float(top[-1]["score"])
            survivors = with_ub.filter(F.col("ub") >= F.lit(theta))
        else:
            survivors = with_ub  # not enough probed docs: exhaustive fallback
        return (
            self._live(self._decode_score_blocks(survivors, w))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    #: zone width for the interval-binned block/candidate join
    _ZONE = 8192
    #: blocks spanning more zones than this skip the bin join (auto-survive)
    _WIDE_ZONES = 64

    def _range_pruned_keys(self, terms: list[str], cand: DataFrame) -> DataFrame:
        """Block keys (term, segment_id, block_id) of ``terms`` whose
        [first_doc, last_doc] range contains >= 1 candidate doc — the
        docID-driven skip of BlockMaxConjunction/DenseConjunction
        (``BlockMaxConjunctionBulkScorer.java``): in a conjunction, docs
        absent from the rarest required clause can never match, so blocks
        of the other clauses that contain none of its docs never need
        decoding. Distributed as an interval join binned by doc-id zones
        (no driver-side metadata collect); blocks spanning many zones
        (sparse terms) auto-survive instead of exploding bins."""
        buckets = sorted({term_bucket_of(t, self.buckets) for t in terms})
        meta = self.postings.filter(
            F.col("term_bucket").isin(buckets) & F.col("term").isin(terms)
        ).select("term", "segment_id", "block_id", "first_doc", "last_doc")
        z_lo = F.expr(f"first_doc div {self._ZONE}")
        z_hi = F.expr(f"last_doc div {self._ZONE}")
        wide = meta.filter(z_hi - z_lo > self._WIDE_ZONES).select(
            "term", "segment_id", "block_id"
        )
        narrow = meta.filter(z_hi - z_lo <= self._WIDE_ZONES)
        zb = narrow.withColumn("z", F.explode(F.sequence(z_lo, z_hi)))
        zc = cand.select(
            F.expr(f"doc_id div {self._ZONE}").alias("z"),
            F.col("doc_id").alias("cand_doc"),
        )
        hit = (
            zb.join(zc, "z")
            .filter(
                (F.col("cand_doc") >= F.col("first_doc"))
                & (F.col("cand_doc") <= F.col("last_doc"))
            )
            .select("term", "segment_id", "block_id")
            .distinct()
        )
        return hit.unionByName(wide)

    def _impact_ub_unit(self):
        """Per-block WEIGHT-FREE score upper bound from the stored impacts:
        max over (freq, norm) pairs of ``1 - 1/(1 + f * inv)`` (the BM25
        per-hit shape without the weight factor, so one expression serves
        clauses with different boosts: clause ub = weight * ubu). Computed
        in float64 with a safety margin so float32 rounding can never push a
        real score above it."""
        inv_lit = F.array(*[F.lit(float(x)) for x in self.cache])
        pair = F.zip_with(
            F.col("impact_freqs").cast("array<double>"),
            F.transform(
                F.col("impact_norms"),
                lambda nb: F.element_at(inv_lit, (nb.bitwiseAND(F.lit(255))) + 1),
            ).cast("array<double>"),
            lambda f, i: F.lit(1.0) - F.lit(1.0) / (F.lit(1.0) + f * i),
        )
        return (
            F.aggregate(pair, F.lit(0.0), lambda a, x: F.greatest(a, x))
            * F.lit(1.0 + 1e-5) + F.lit(1e-6)
        )

    def search_pruned(self, query: Query, k: int = 10,
                      probe_blocks: int = 8) -> DataFrame:
        """Top-k with Boolean-level block-max pruning — the BlockMaxConjunction
        / WANDScorer / MaxScoreBulkScorer analog (``WANDScorer.java:55``,
        ``BlockMaxConjunctionBulkScorer.java``, ``MaxScoreBulkScorer.java:26``),
        rank-identical to search() by construction.

        Pass 1 (probe): decode only the ``probe_blocks`` highest-upper-bound
        blocks per scoring clause (metadata-only ranking; FILTER/MUST_NOT
        clauses stay exhaustive — pruning them is never score-safe) and run
        the full combination; any doc that fully matches there has computed
        score <= its true score, so the kth probe score θ lower-bounds the
        true kth score. Pass 2: a block of clause c survives iff
        ``w_c * ubu + Σ_{c'≠c} max_ub_{c'} >= θ`` — a doc whose block is
        dropped cannot reach θ, hence cannot displace the top-k. Exhaustive
        fallback when the probe matches fewer than k docs."""
        if self.sim.name != "bm25":
            raise ValueError(
                "block-max pruning derives impact upper bounds from the "
                "BM25 closed form; use search() for other similarities"
            )
        q = rewrite_fixpoint(self._expand_multi_term(rewrite_fixpoint(query)))
        if isinstance(q, TermQuery):
            return self.search_term_pruned(q.term, k, probe_blocks)
        if not (isinstance(q, BooleanQuery) and self._is_flat(q)):
            return self.search(q, k)
        clauses = self._clauses_of(q, np.float32(1.0))
        scoring = [c for c in clauses
                   if c.kind in ("must", "should") and float(c.weight) > 0]
        if not scoring:
            return self.search(q, k)

        # strategy 1 — docID-driven conjunction skipping (EXACT, no probe):
        # when a required clause is much rarer than everything else, its doc
        # set bounds the match set; only blocks of the OTHER clauses that
        # range-contain one of its docs ever need decoding (must_not stays
        # exhaustive — skipping exclusions is never safe).
        stats = self.term_stats(sorted({c.term for c in clauses}))
        req = [c for c in clauses if c.kind in ("must", "filter")
               and c.term in stats]
        if req:
            rare = min(req, key=lambda c: stats[c.term][0])
            df_r = stats[rare.term][0]
            others = sorted({
                c.term for c in clauses
                if c.kind != "must_not" and c.term != rare.term
                and c.term in stats
            })
            min_other = min(
                (stats[t][0] for t in others), default=0
            )
            if others and df_r * 16 <= self.doc_count and df_r * 4 <= min_other:
                cand = self.term_postings(rare.term).select("doc_id")
                keys = self._range_pruned_keys(others, cand)
                scored = self._live(self._flat_boolean(
                    q, np.float32(1.0), block_keys=keys, keyed_terms=others
                ))
                return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

        # strategy 2 — score-bound (block-max) pruning with probe θ
        sterms = sorted({c.term for c in scoring})
        buckets = sorted({term_bucket_of(t, self.buckets) for t in sterms})
        meta = self.postings.filter(
            F.col("term_bucket").isin(buckets) & F.col("term").isin(sterms)
        ).select(
            "term", "segment_id", "block_id", "impact_freqs", "impact_norms"
        ).withColumn("ubu", self._impact_ub_unit())

        # ONE tiny collect serves both the probe keys AND the per-term max
        # bound: the window is sorted ubu desc, so each term's rank-1 row
        # carries its maximum (probe_blocks * |terms| rows of metadata —
        # no posting data read, one Spark job instead of two)
        from pyspark.sql.window import Window

        win = Window.partitionBy("term").orderBy(
            F.desc("ubu"), F.asc("segment_id"), F.asc("block_id")
        )
        probe_rows = (
            meta.withColumn("rn", F.row_number().over(win))
            .filter(F.col("rn") <= probe_blocks)
            .select("term", "segment_id", "block_id", "rn", "ubu")
            .collect()
        )
        probe_keys = {
            (r["term"], int(r["segment_id"]), int(r["block_id"]))
            for r in probe_rows
        }
        maxima = {
            r["term"]: float(r["ubu"]) for r in probe_rows if int(r["rn"]) == 1
        }
        clause_max = {
            c.clause_id: float(c.weight) * maxima.get(c.term, 0.0)
            for c in scoring
        }
        total_max = sum(clause_max.values())
        key_col = F.concat_ws(
            "|", F.col("term"), F.col("segment_id"), F.col("block_id")
        )
        key_lits = [f"{t}|{s}|{b}" for t, s, b in probe_keys]
        in_scoring = F.col("term").isin(sterms)
        probe_pred = (~in_scoring) | key_col.isin(key_lits)
        probed = self._live(self._flat_boolean(q, np.float32(1.0),
                                               block_pred=probe_pred))
        top = (
            probed.orderBy(F.desc("score"), F.asc("doc_id")).limit(k).collect()
        )
        if len(top) < k:
            scored = self._live(self._flat_boolean(q, np.float32(1.0)))
            return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        theta = float(top[-1]["score"])
        # per-term survivor threshold on the weight-free bound: keep a block
        # iff ANY clause on its term could still contribute a θ-beating doc
        thr_entries = []
        for t in sterms:
            thr = min(
                (theta - (total_max - clause_max[c.clause_id])) / float(c.weight)
                for c in scoring if c.term == t
            )
            thr_entries += [F.lit(t), F.lit(float(thr))]
        thr_map = F.create_map(*thr_entries)
        surv_pred = (~in_scoring) | (F.col("ubu") >= thr_map[F.col("term")])
        scored = self._live(self._flat_boolean(q, np.float32(1.0),
                                               block_pred=surv_pred))
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def _decode_score_blocks(self, blocks: DataFrame, w: np.float32) -> DataFrame:
        sim = self.sim

        def ds(batches):
            from lucene_spark.functions.codec import decode_block

            for pdf in batches:
                out_d, out_s = [], []
                for nd, fd, data in zip(
                    pdf["num_docs"].to_numpy(np.int64),
                    pdf["first_doc"].to_numpy(np.int64),
                    pdf["data"].to_numpy(object),
                ):
                    d, f, nb = decode_block(data, int(nd), int(fd))
                    out_d.append(d)
                    out_s.append(sim.score(f, nb, w))
                if out_d:
                    yield pd.DataFrame(
                        {"doc_id": np.concatenate(out_d),
                         "score": np.concatenate(out_s)}
                    )

        return (
            blocks.select("num_docs", "first_doc", "data")
            .repartition(self.spark.sparkContext.defaultParallelism)
            .mapInPandas(ds, schema="doc_id long, score float")
        )

    # ------------------------------------------------------------ phrase

    def positions_table(self) -> DataFrame:
        p = os.path.join(self.index_dir, "positions")
        if not os.path.exists(p):
            raise ValueError(
                f"{self.index_dir}: index built without positions "
                "(IndexConfig.positions=False) — PhraseQuery unavailable"
            )
        if self._positions is None:
            self._positions = self.spark.read.parquet(p)
        return self._positions

    def _term_weight1(self, boost, df: int, ttf: int):
        """Per-term clause weight. Scalar similarities: float32(boost *
        idf) (BM25Similarity.java:97). Stats-based similarities
        (functions/simbase.py): an opaque TermWeight binding (df, ttf) —
        built exactly where the reference builds BasicStats
        (SimilarityBase.java:56-67); every score path passes it through
        to sim.score unchanged."""
        tw = getattr(self.sim, "term_weight", None)
        if tw is not None:
            return tw(float(boost), int(df), int(ttf))
        return np.float32(np.float32(boost) * self.sim.idf(df, self.doc_count))

    def _multi_term_weight(self, boost: np.float32,
                           pairs: list[tuple[int, int]]):
        """Multi-term (phrase/span/synonym-fold) weight over the clause
        terms' (doc_freq, total_term_freq) stats. Scalar similarities:
        float32(boost * multi_idf) — the idf accumulation
        (BM25Similarity.java:161-170 / TFIDFSimilarity.java:392-401:
        Σ_double of f32 idfs, cast f32; BooleanSimilarity: 1.0).
        Stats-based similarities: a MultiWeight — the per-term scores
        summed in double, final f32 (MultiSimilarity.MultiSimScorer,
        exactly how SimilarityBase scores multi-term weights)."""
        mw = getattr(self.sim, "multi_weight", None)
        if mw is not None:
            return mw(float(boost), [(int(d), int(t)) for d, t in pairs])
        idfs = [self.sim.idf(int(d), self.doc_count) for d, _ in pairs]
        return np.float32(np.float32(boost) * self.sim.multi_idf(idfs))

    def _score_freq_frame(self, matched: DataFrame, w: np.float32) -> DataFrame:
        """(doc_id, freq) + norms join -> (doc_id, score) with exact float32
        similarity arithmetic (vectorized Arrow UDF, cache semantics)."""
        sim = self.sim
        norms = self.docmap().select("doc_id", "norm_byte")
        j = matched.join(norms, "doc_id").select("doc_id", "freq", "norm_byte")

        def score_batches(batches):
            for pdf in batches:
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"].to_numpy(np.int64),
                        "score": sim.score(
                            # float64: sloppy-phrase freqs are fractional
                            pdf["freq"].to_numpy(np.float64),
                            pdf["norm_byte"].to_numpy(np.int64),
                            w,
                        ),
                    }
                )

        return j.mapInPandas(score_batches, schema="doc_id long, score float")

    def _phrase(self, q: PhraseQuery, boost: np.float32) -> DataFrame | None:
        terms = list(q.terms)
        if not terms:
            return None
        stats = self.term_stats(terms)
        if any(t not in stats for t in terms):
            return None
        w = self._multi_term_weight(boost, [stats[t] for t in terms])
        return self._phrase_core([(t,) for t in terms], int(q.slop), w)

    def _multi_phrase(self, q: MultiPhraseQuery, boost: np.float32) -> DataFrame | None:
        """Per-slot alternatives: slot positions = distinct union of the
        alternatives' position lists (UnionPostingsEnum analog)."""
        slots = [tuple(sl) for sl in q.slots]
        if not slots:
            return None
        all_terms = [t for sl in slots for t in sl]
        stats = self.term_stats(all_terms)
        present_slots = [tuple(t for t in sl if t in stats) for sl in slots]
        if any(not sl for sl in present_slots):
            return None  # a slot with no existing alternative kills the phrase
        # idf sum over ALL existing terms, slot-then-term order, skipping
        # absent and counting duplicates once per occurrence in the arrays
        w = self._multi_term_weight(
            boost, [stats[t] for sl in slots for t in sl if t in stats])
        return self._phrase_core(present_slots, 0, w)

    def _slot_position_frame(
        self, slots: list[tuple[str, ...]], require_all: bool = True
    ) -> DataFrame:
        """ONE positions scan + ONE groupBy(doc_id) assembling per-slot
        position arrays p0..p{n-1} (union of slot alternatives,
        distinct+sorted), filtered to docs where every slot matched
        (``require_all=False`` skips the filter — interval trees with
        disjunctions apply their own presence predicate)."""
        n_slots = len(slots)
        term_slots: dict[str, list[int]] = {}
        for i, sl in enumerate(slots):
            for t in sl:
                term_slots.setdefault(t, []).append(i)
        uniq_terms = sorted(term_slots)
        buckets = sorted({term_bucket_of(t, self.buckets) for t in uniq_terms})
        scan = (
            self.positions_table()
            .filter(F.col("term_bucket").isin(buckets) & F.col("term").isin(uniq_terms))
            .select("term", "doc_id", "positions")
        )
        entries = []
        for t in uniq_terms:
            entries.append(F.lit(t))
            entries.append(F.array(*[F.lit(i) for i in term_slots[t]]))
        slot_map = F.create_map(*entries)
        tagged = scan.select(
            "doc_id",
            F.explode(slot_map[F.col("term")]).alias("slot"),
            "positions",
        )
        aggs = [
            F.array_sort(
                F.array_distinct(
                    F.flatten(
                        F.coalesce(
                            F.collect_list(
                                F.when(F.col("slot") == i, F.col("positions"))
                            ),
                            F.array().cast("array<array<int>>"),
                        )
                    )
                )
            ).alias(f"p{i}")
            for i in range(n_slots)
        ]
        j = tagged.groupBy("doc_id").agg(*aggs)
        if not require_all:
            return j
        present = F.size(F.col("p0")) > 0
        for i in range(1, n_slots):
            present = present & (F.size(F.col(f"p{i}")) > 0)
        return j.filter(present)

    def _phrase_core(
        self, slots: list[tuple[str, ...]], slop: int, w: np.float32,
        matcher: str = "sloppy",
    ) -> DataFrame | None:
        """Shared phrase engine: slot-position assembly (ONE shuffle — the
        round-1 plan chained N-1 joins on doc_id) followed by matching.
        slop=0 applies the JVM adjacency filter; slop>0 runs, per doc, the
        ``matcher``:

          "sloppy"  — the reference's SloppyPhraseMatcher queue semantics
                      (reordering allowed: "b a"~2 matches "a b"; repeated
                      terms occupy distinct positions) —
                      ``functions/sloppy.py``, PhraseQuery's matcher.
          "ordered" — strictly in-order greedy next-occurrence matching
                      (SpanNearQuery(ordered) semantics: spans may not
                      reorder), the round-2 matcher, retained for spans.

        Both run in a vectorized UDF over the tiny matched frame."""
        n_slots = len(slots)
        j = self._slot_position_frame(slots)
        if slop == 0 and n_slots == 1:
            freq = F.size(F.col("p0")).cast("double")
            matched = j.select("doc_id", freq.alias("freq"))
        elif slop == 0:
            def adjacency(x):  # single-arg: pyspark inspects the arity
                c = F.array_contains(F.col("p1"), x + 1)
                for i in range(2, n_slots):
                    c = c & F.array_contains(F.col(f"p{i}"), x + i)
                return c

            freq = F.size(F.filter(F.col("p0"), adjacency)).cast("double")
            matched = j.select("doc_id", freq.alias("freq")).filter(
                F.col("freq") > 0
            )
        elif matcher == "sloppy":
            n_s, sl_budget = n_slots, int(slop)
            groups: dict[tuple[str, ...], list[int]] = {}
            for i, sl in enumerate(slots):
                groups.setdefault(tuple(sl), []).append(i)
            rpt = [g for g in groups.values() if len(g) > 1]

            def sloppy(batches):
                from lucene_spark.functions.sloppy import sloppy_freq

                for pdf in batches:
                    docs_out = pdf["doc_id"].to_numpy(np.int64)
                    freqs = np.zeros(len(pdf), dtype=np.float64)
                    cols = [pdf[f"p{i}"].to_numpy(object) for i in range(n_s)]
                    for r in range(len(pdf)):
                        freqs[r] = sloppy_freq(
                            [list(cols[i][r]) for i in range(n_s)],
                            sl_budget, rpt,
                        )
                    yield pd.DataFrame({"doc_id": docs_out, "freq": freqs})

            matched = j.mapInPandas(
                sloppy, schema="doc_id long, freq double"
            ).filter(F.col("freq") > 0)
        else:
            n_s, sl_budget = n_slots, int(slop)

            def ordered(batches):
                for pdf in batches:
                    docs_out = pdf["doc_id"].to_numpy(np.int64)
                    freqs = np.zeros(len(pdf), dtype=np.float64)
                    cols = [pdf[f"p{i}"].to_numpy(object) for i in range(n_s)]
                    for r in range(len(pdf)):
                        arrays = [np.asarray(cols[i][r], dtype=np.int64)
                                  for i in range(n_s)]
                        acc = 0.0
                        for p in arrays[0].tolist():
                            cur, ml, ok = p, 0, True
                            for a in arrays[1:]:
                                kk = int(np.searchsorted(a, cur, side="right"))
                                if kk == a.size:
                                    ok = False
                                    break
                                ml += int(a[kk]) - cur - 1
                                cur = int(a[kk])
                            if ok and ml <= sl_budget:
                                acc += 1.0 / (1.0 + ml)
                        freqs[r] = acc
                    yield pd.DataFrame({"doc_id": docs_out, "freq": freqs})

            matched = j.mapInPandas(
                ordered, schema="doc_id long, freq double"
            ).filter(F.col("freq") > 0)
        return self._score_freq_frame(matched, w)

    def _span_near(self, q, boost: np.float32) -> DataFrame | None:
        """SpanNearQuery execution (see the AST docstring for semantics):
        ordered = the sloppy-phrase core; unordered (2 terms) = nearest-
        occurrence matching, both over the single-shuffle slot frame."""
        terms = list(q.terms)
        if not terms:
            return None
        stats = self.term_stats(terms)
        if any(t not in stats for t in terms):
            return None
        w = self._multi_term_weight(boost, [stats[t] for t in terms])
        if q.in_order:
            # ordered spans may NOT reorder — keep the in-order greedy
            # matcher (PhraseQuery slop uses the reordering sloppy matcher)
            return self._phrase_core([(t,) for t in terms], int(q.slop), w,
                                     matcher="ordered")
        if len(terms) != 2:
            raise ValueError("unordered span_near supports exactly 2 terms")
        j = self._slot_position_frame([(terms[0],), (terms[1],)])
        slop = int(q.slop)

        def nearest(batches):
            for pdf in batches:
                docs_out = pdf["doc_id"].to_numpy(np.int64)
                freqs = np.zeros(len(pdf), dtype=np.float64)
                c0 = pdf["p0"].to_numpy(object)
                c1 = pdf["p1"].to_numpy(object)
                for r in range(len(pdf)):
                    a = np.asarray(c0[r], dtype=np.int64)
                    b = np.asarray(c1[r], dtype=np.int64)
                    acc = 0.0
                    idx = np.searchsorted(b, a)
                    for i, p in enumerate(a.tolist()):
                        d = None
                        if idx[i] < b.size:
                            d = int(b[idx[i]]) - p
                        if idx[i] > 0:
                            d2 = p - int(b[idx[i] - 1])
                            d = d2 if d is None or d2 < d else d
                        ml = d - 1
                        if ml <= slop:
                            acc += 1.0 / (1.0 + ml)
                    freqs[r] = acc
                yield pd.DataFrame({"doc_id": docs_out, "freq": freqs})

        matched = j.mapInPandas(nearest, schema="doc_id long, freq double").filter(
            F.col("freq") > 0
        )
        return self._score_freq_frame(matched, w)

    def _synonym(self, q: SynonymQuery, boost: np.float32) -> DataFrame | None:
        """Blended pseudo-term: df = max, per-doc freq = sum over terms
        (SynonymQuery.java:211-228); ONE postings scan, freqs summed by doc."""
        terms = sorted(set(q.terms))
        stats = self.term_stats(terms)
        present = [t for t in terms if t in stats]
        if not present:
            return None
        # pseudo-term statistics: df = max, ttf = SUM over present terms
        # (SynonymQuery.java:211-228)
        df_blend = max(stats[t][0] for t in present)
        ttf_blend = sum(stats[t][1] for t in present)
        w = self._term_weight1(boost, df_blend, ttf_blend)
        # one postings scan; FREQS (not scores) summed per doc
        buckets = sorted({term_bucket_of(t, self.buckets) for t in present})
        scan = (
            self.postings.filter(
                F.col("term_bucket").isin(buckets) & F.col("term").isin(present)
            )
            .select("num_docs", "first_doc", "data")
            .repartition(self.spark.sparkContext.defaultParallelism)
        )

        def decode(batches):
            from lucene_spark.functions.codec import decode_block

            for pdf in batches:
                docs_out, freqs_out = [], []
                for nd, fd, data in zip(
                    pdf["num_docs"].to_numpy(np.int64),
                    pdf["first_doc"].to_numpy(np.int64),
                    pdf["data"].to_numpy(object),
                ):
                    d, f, _ = decode_block(data, int(nd), int(fd))
                    docs_out.append(d)
                    freqs_out.append(f)
                if docs_out:
                    yield pd.DataFrame(
                        {
                            "doc_id": np.concatenate(docs_out),
                            "freq": np.concatenate(freqs_out),
                        }
                    )

        per_doc = (
            scan.mapInPandas(decode, schema="doc_id long, freq long")
            .groupBy("doc_id")
            .agg(F.sum("freq").alias("freq"))
        )
        return self._score_freq_frame(per_doc, w)

    def _dismax(self, q: DisjunctionMaxQuery, boost: np.float32) -> DataFrame | None:
        """max + tieBreaker * (sum - max) over clause scores, accumulated in
        double and cast to float (DisjunctionMaxScorer.java:24-56)."""
        frames = [self._execute(c, boost) for c in q.disjuncts]
        frames = [f for f in frames if f is not None]
        if not frames:
            return None
        u = frames[0].select("doc_id", "score")
        for f in frames[1:]:
            u = u.unionAll(f.select("doc_id", "score"))
        tb = float(q.tie_breaker)
        agg = u.groupBy("doc_id").agg(
            F.max(F.col("score").cast("double")).alias("mx"),
            F.sum(F.col("score").cast("double")).alias("sm"),
        )
        return agg.select(
            "doc_id",
            (F.col("mx") + F.lit(tb) * (F.col("sm") - F.col("mx")))
            .cast("float")
            .alias("score"),
        )

    @staticmethod
    def _is_flat(q: BooleanQuery) -> bool:
        def leaf(c: Query) -> bool:
            return isinstance(c, TermQuery) or (
                isinstance(c, BoostQuery) and isinstance(c.query, TermQuery)
            )
        return all(leaf(c) for c in q.must + q.should + q.filter + q.must_not)

    @staticmethod
    def _flat_terms(q: BooleanQuery) -> list[str]:
        return [c.query.term if isinstance(c, BoostQuery) else c.term
                for c in q.must + q.should + q.filter + q.must_not]

    @classmethod
    def _as_flat(cls, q: Query) -> tuple[BooleanQuery, np.float32] | None:
        """(flat Boolean, boost) of a TermQuery or flat BooleanQuery,
        optionally Boost-wrapped (boosts fold as ``_execute`` folds them);
        None for every other query."""
        boost = np.float32(1.0)
        while isinstance(q, BoostQuery):
            boost = np.float32(boost * np.float32(q.boost))
            q = q.query
        if isinstance(q, TermQuery):
            q = BooleanQuery(must=[q])
        if isinstance(q, BooleanQuery) and cls._is_flat(q):
            return q, boost
        return None

    def _local_topk(self, flats: dict[str, tuple[BooleanQuery, np.float32]],
                    k: int) -> dict[str, tuple[np.ndarray, np.ndarray]] | None:
        """Driver-local route (``query/local.py``): name -> top-k (doc ids,
        float32 scores) of each flat query, from ONE pyarrow read of all
        their terms' blocks. None — run it on Spark instead — when the
        distinct terms' doc_freq sum exceeds LOCAL_POSTINGS_MAX or the
        tombstones exceed BROADCAST_DELETES_MAX."""
        rows = self._term_dict_rows(
            [t for q, _ in flats.values() for t in self._flat_terms(q)])
        if sum(r[0] for r in rows.values()) > self.LOCAL_POSTINGS_MAX:
            return None
        dead = self._tombstones()
        if dead is None:
            return None
        blocks = local.read_blocks(self.index_dir, list(rows), self.buckets,
                                   self.max_segment_id)
        postings = local.decode_terms(
            blocks.column("term").to_numpy(zero_copy_only=False),
            blocks.column("num_docs").to_numpy(),
            blocks.column("first_doc").to_numpy(),
            blocks.column("data").to_pylist())
        out = {}
        for name, (q, boost) in flats.items():
            docs, scores = local.combine_scored(
                postings, self._clauses_of(q, boost, rows), self.sim,
                q.min_should_match)
            if dead.size:
                live = ~np.isin(docs, dead)
                docs, scores = docs[live], scores[live]
            out[name] = local.top_k(docs, scores, k)
        return out

    def _clauses_of(self, q: BooleanQuery, boost: np.float32,
                    rows: dict | None = None) -> list[_Clause]:
        """Weighted clauses of a flat Boolean. ``rows`` (optional) are the
        query's ``_term_dict_rows``, when the caller has read them already."""
        stats = (self._term_dict_rows(self._flat_terms(q))
                 if rows is None else rows)
        clauses: list[_Clause] = []
        cid = 0
        for kind, group in (
            ("must", q.must), ("should", q.should),
            ("filter", q.filter), ("must_not", q.must_not),
        ):
            for c in group:
                if isinstance(c, BoostQuery):
                    inner, b = c.query, np.float32(boost * np.float32(c.boost))
                else:
                    inner, b = c, boost
                term = inner.term
                df_ttf = stats.get(term)
                # BlendedTermQuery df override (fuzzy rewrite blending,
                # ``BlendedTermQuery.java:47``): idf from the blended df,
                # doc presence still from the term's own postings
                df = (
                    inner.df_override
                    if getattr(inner, "df_override", None) is not None and df_ttf
                    else (df_ttf[0] if df_ttf else 0)
                )
                w = (
                    self._term_weight1(b, df, df_ttf[1])
                    if df_ttf
                    else np.float32(0.0)
                )
                clauses.append(_Clause(cid, kind, term, w))
                cid += 1
        return clauses

    def _scan_and_score(self, clauses: list[_Clause], block_pred=None,
                        block_keys: DataFrame | None = None,
                        keyed_terms: list[str] | None = None,
                        doc_lo: int | None = None,
                        doc_hi: int | None = None) -> DataFrame:
        """ONE postings scan scoring every clause: emits
        (clause_id, doc_id, score float32). ``block_pred`` (optional) is a
        Column predicate over block metadata — including the per-block
        impact upper bound ``ubu`` — used by search_pruned to skip decoding
        blocks that cannot reach the top-k threshold. ``block_keys`` +
        ``keyed_terms`` (optional) restrict the listed terms to the given
        (term, segment_id, block_id) keys via a semi join (docID-driven
        conjunction skipping); other terms scan in full. ``doc_lo``/
        ``doc_hi`` (optional) restrict matching to a docID range: blocks
        wholly outside it are never decoded (metadata filter, pushed to the
        parquet scan), decoded docs outside it are dropped — the
        sorted-index early-termination restriction (exact within range)."""
        present = [c for c in clauses]
        terms = sorted({c.term for c in present})
        buckets = sorted({term_bucket_of(t, self.buckets) for t in terms})
        sim = self.sim
        term_clauses: dict[str, list[tuple[int, np.float32]]] = {}
        for c in present:
            term_clauses.setdefault(c.term, []).append((c.clause_id, c.weight))

        scan = self.postings.filter(
            F.col("term_bucket").isin(buckets) & F.col("term").isin(terms)
        )
        if block_keys is not None:
            pruned = scan.filter(F.col("term").isin(keyed_terms)).join(
                block_keys, ["term", "segment_id", "block_id"], "left_semi"
            )
            rest = scan.filter(~F.col("term").isin(keyed_terms))
            scan = pruned.unionByName(rest)
        if block_pred is not None:
            scan = scan.withColumn("ubu", self._impact_ub_unit()).filter(block_pred)
        if doc_hi is not None:
            scan = scan.filter(F.col("first_doc") <= doc_hi)
        if doc_lo is not None:
            scan = scan.filter(F.col("last_doc") >= doc_lo)
        scan = scan.select("term", "num_docs", "first_doc", "data")
        # spread the (compressed) blocks across the cluster before decoding:
        # one term's blocks are contiguous in one bucket file, so without
        # this a hot term's entire posting list decodes in 1-2 tasks.
        # Shuffling undecoded blocks is ~256x cheaper than shuffling
        # postings; a cold term's handful of rows costs microseconds.
        scan = scan.repartition(self.spark.sparkContext.defaultParallelism)

        def decode_score(batches):
            from lucene_spark.functions.codec import decode_block

            for pdf in batches:
                out_cid: list[np.ndarray] = []
                out_doc: list[np.ndarray] = []
                out_score: list[np.ndarray] = []
                for term, nd, fd, data in zip(
                    pdf["term"].to_numpy(object),
                    pdf["num_docs"].to_numpy(np.int64),
                    pdf["first_doc"].to_numpy(np.int64),
                    pdf["data"].to_numpy(object),
                ):
                    docs, freqs, norms = decode_block(data, int(nd), int(fd))
                    for cid, w in term_clauses[term]:
                        out_cid.append(np.full(docs.size, cid, dtype=np.int32))
                        out_doc.append(docs)
                        out_score.append(sim.score(freqs, norms, w))
                if out_doc:
                    yield pd.DataFrame(
                        {
                            "clause_id": np.concatenate(out_cid),
                            "doc_id": np.concatenate(out_doc),
                            "score": np.concatenate(out_score),
                        }
                    )

        out = scan.mapInPandas(decode_score, schema=_CLAUSE_SCHEMA)
        if doc_hi is not None:
            out = out.filter(F.col("doc_id") <= doc_hi)
        if doc_lo is not None:
            out = out.filter(F.col("doc_id") >= doc_lo)
        return out

    def _flat_boolean(self, q: BooleanQuery, boost: np.float32,
                      block_pred=None, block_keys: DataFrame | None = None,
                      keyed_terms: list[str] | None = None,
                      doc_lo: int | None = None,
                      doc_hi: int | None = None) -> DataFrame | None:
        clauses = self._clauses_of(q, boost)
        n_must = sum(1 for c in clauses if c.kind == "must")
        n_filter = sum(1 for c in clauses if c.kind == "filter")
        n_should = sum(1 for c in clauses if c.kind == "should")
        msm = q.min_should_match
        # single scoring clause: each doc appears exactly once in the scan,
        # so clause combination is a no-op — skip the groupBy entirely
        # (TermQuery never needs a BooleanScorer; at 10^7+ matched docs the
        # avoided shuffle dominates query latency)
        if len(clauses) == 1 and clauses[0].kind in ("must", "should"):
            return self._scan_and_score(
                clauses, block_pred, block_keys, keyed_terms, doc_lo, doc_hi
            ).select("doc_id", "score")
        matched = self._scan_and_score(clauses, block_pred, block_keys,
                                       keyed_terms, doc_lo, doc_hi)

        kinds = {c.clause_id: c.kind for c in clauses}
        kind_expr = F.create_map(
            *[x for cid, kd in kinds.items() for x in (F.lit(cid), F.lit(kd))]
        )[F.col("clause_id")]
        m = matched.withColumn("kind", kind_expr)

        agg = m.groupBy("doc_id").agg(
            F.sum(F.when(F.col("kind") == "must", F.col("score").cast("double"))).alias("must_s"),
            F.count(F.when(F.col("kind") == "must", 1)).alias("must_n"),
            F.sum(F.when(F.col("kind") == "should", F.col("score").cast("double"))).alias("should_s"),
            F.count(F.when(F.col("kind") == "should", 1)).alias("should_n"),
            F.count(F.when(F.col("kind") == "filter", 1)).alias("filter_n"),
            F.count(F.when(F.col("kind") == "must_not", 1)).alias("not_n"),
        )
        cond = (F.col("must_n") == n_must) & (F.col("filter_n") == n_filter) & (F.col("not_n") == 0)
        if n_must + n_filter == 0:
            cond = cond & (F.col("should_n") >= max(msm, 1))
        elif msm > 0:
            cond = cond & (F.col("should_n") >= msm)
        score = _combine_req_opt(
            n_must, n_should, msm, F.col("must_s"), F.col("should_s")
        ).alias("score")
        return agg.filter(cond).select("doc_id", score)

    def _nested_boolean(self, q: BooleanQuery, boost: np.float32) -> DataFrame | None:
        """General recursive combination (nested booleans): join-based
        BS2 scorer-tree analog (BooleanScorerSupplier.java:95-174)."""
        must_dfs = [self._execute(c, boost) for c in q.must]
        if any(d is None for d in must_dfs):
            return None
        should_dfs = [self._execute(c, boost) for c in q.should]
        should_dfs = [d for d in should_dfs if d is not None]
        filter_dfs = [self._execute(c, np.float32(0.0)) for c in q.filter]
        if q.filter and any(d is None for d in filter_dfs):
            return None
        not_dfs = [d for d in (self._execute(c, np.float32(0.0)) for c in q.must_not) if d is not None]
        msm = q.min_should_match

        base: DataFrame | None = None
        if must_dfs:
            base = must_dfs[0].select("doc_id", F.col("score").cast("double").alias("acc"))
            for d in must_dfs[1:]:
                base = base.join(d, "doc_id").select(
                    "doc_id", (F.col("acc") + F.col("score").cast("double")).alias("acc")
                )
        for d in filter_dfs:
            sel = d.select("doc_id")
            base = sel.withColumn("acc", F.lit(0.0)) if base is None else base.join(sel, "doc_id", "left_semi")

        should_agg = None
        if should_dfs:
            u = should_dfs[0].select("doc_id", "score")
            for d in should_dfs[1:]:
                u = u.unionAll(d.select("doc_id", "score"))
            should_agg = u.groupBy("doc_id").agg(
                F.sum(F.col("score").cast("double")).alias("s_acc"),
                F.count("*").alias("s_n"),
            )

        # combination uses the same reference float boundaries as the flat
        # path (see _combine_req_opt); `acc` carries the required DOUBLE sum,
        # `s_acc` the optional DOUBLE sum
        n_must_scoring = len(must_dfs)
        if base is None:
            if should_agg is None:
                return None
            res = should_agg.filter(F.col("s_n") >= max(msm, 1)).select(
                "doc_id",
                _combine_req_opt(0, 1, msm, F.lit(None), F.col("s_acc")).alias("score"),
            )
        elif should_agg is not None:
            joined = base.join(should_agg, "doc_id", "left")
            if msm > 0:
                joined = joined.filter(F.coalesce(F.col("s_n"), F.lit(0)) >= msm)
            res = joined.select(
                "doc_id",
                _combine_req_opt(
                    max(n_must_scoring, 1), 1, msm, F.col("acc"), F.col("s_acc")
                ).alias("score"),
            )
        else:
            res = base.select("doc_id", _f32(F.col("acc")).alias("score"))
        for d in not_dfs:
            res = res.join(d.select("doc_id"), "doc_id", "left_anti")
        return res.select("doc_id", "score")

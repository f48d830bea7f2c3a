"""Pure-Python reference oracle: exhaustive index build + BM25 top-k scoring.

The Lucene-semantics dual-execution check (the reference's own test idiom —
``tf/search/CheckHits.java:181-333`` asserts optimized top-k == exhaustive
collector; ``coretest/search/TestBoolean2.java`` cross-checks optimized vs dumb
Boolean execution). This module is the "dumb" side: a scalar, written-straight-
from-the-spec implementation that the Spark engine must match exactly
(docIDs, freqs, norm bytes, float32 scores, top-k order).

Semantics reproduced (citations into the public Apache Lucene source):
  - docID assignment: dense 0-based over stable (conv_id, turn_idx) order
    (insertion-order analog of ``core/index/IndexingChain.java:552``).
  - norms: ``SmallFloat.intToByte4(field_len)`` with discountOverlaps
    (``core/search/similarities/Similarity.java:153-164``).
  - BM25 float32 arithmetic incl. 256-entry norm-inverse cache
    (``BM25Similarity.java:101-264``) via lucene_spark.functions.bm25.
  - Boolean clause accumulation: per-clause float32 scores summed in double,
    cast to float (``ConjunctionScorer.java:57-63``,
    ``DisjunctionSumScorer.java:40-41``).
  - top-k order: score desc, docID asc (``HitQueue.java:76-80``).
  - minimumNumberShouldMatch, FILTER (unscored), MUST_NOT
    (``BooleanQuery.java:125-167``); SHOULD/MUST are multisets (duplicates
    kept), FILTER/MUST_NOT deduped (``BooleanQuery.java:134-138``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from lucene_spark.functions import bm25
from lucene_spark.functions.analysis import analyze_one
from lucene_spark.functions.smallfloat import int_to_byte4
from lucene_spark.query.ast import (
    BooleanQuery,
    BoostQuery,
    MatchAllDocsQuery,
    MatchNoDocsQuery,
    Query,
    TermQuery,
)


@dataclass
class OracleIndex:
    doc_count: int = 0
    sum_total_term_freq: int = 0
    # term -> {doc_id -> freq} kept sorted by doc at query time
    postings: dict[str, dict[int, int]] = field(default_factory=dict)
    norm_bytes: list[int] = field(default_factory=list)
    field_lens: list[int] = field(default_factory=list)
    tokens_per_doc: list[list[str]] = field(default_factory=list)

    # ---------------- build

    @classmethod
    def build(cls, rows: list[tuple[str, int, str]]) -> "OracleIndex":
        """rows: (conv_id, turn_idx, text); docIDs by stable sorted order."""
        idx = cls()
        for conv_id, turn_idx, text in sorted(rows, key=lambda r: (r[0], r[1])):
            doc_id = idx.doc_count
            toks, flen = analyze_one(text or "")
            idx.tokens_per_doc.append(toks)
            idx.field_lens.append(flen)
            idx.norm_bytes.append(int_to_byte4(flen))
            idx.sum_total_term_freq += flen
            for t in toks:
                idx.postings.setdefault(t, {})
                idx.postings[t][doc_id] = idx.postings[t].get(doc_id, 0) + 1
            idx.doc_count += 1
        return idx

    # ---------------- stats

    def doc_freq(self, term: str) -> int:
        return len(self.postings.get(term, {}))

    def total_term_freq(self, term: str) -> int:
        return sum(self.postings.get(term, {}).values())

    def avgdl(self) -> np.float32:
        return bm25.avgdl(self.sum_total_term_freq, self.doc_count)

    # ---------------- scoring

    def _term_scores(self, term: str, boost: float) -> dict[int, np.float32]:
        plist = self.postings.get(term)
        if not plist:
            return {}
        w = bm25.weight(boost, bm25.idf(len(plist), self.doc_count))
        cache = bm25.norm_inverse_cache(self.avgdl())
        out: dict[int, np.float32] = {}
        one = np.float32(1.0)
        for doc, freq in plist.items():
            inv = cache[self.norm_bytes[doc] & 0xFF]
            out[doc] = np.float32(w - w / (one + np.float32(freq) * inv))
        return out

    def _matches(self, q: Query, boost: float) -> tuple[set[int], dict[int, float]]:
        """Returns (matching doc set, per-doc double score accumulator).

        Scores are float32 per leaf, accumulated in float64 across clauses.
        """
        if isinstance(q, BoostQuery):
            return self._matches(q.query, boost * q.boost)
        if isinstance(q, TermQuery):
            s = self._term_scores(q.term, boost)
            return set(s), {d: float(v) for d, v in s.items()}
        if isinstance(q, MatchAllDocsQuery):
            docs = set(range(self.doc_count))
            return docs, {d: float(np.float32(boost)) for d in docs}
        if isinstance(q, MatchNoDocsQuery):
            return set(), {}
        if isinstance(q, BooleanQuery):
            return self._bool_matches(q, boost)
        raise TypeError(f"oracle cannot execute {type(q).__name__}")

    def _bool_matches(self, q: BooleanQuery, boost: float) -> tuple[set[int], dict[int, float]]:
        must = [self._matches(c, boost) for c in q.must]
        should = [self._matches(c, boost) for c in q.should]
        filt = [self._matches(c, 0.0)[0] for c in dedup_queries(q.filter)]
        nots = [self._matches(c, 0.0)[0] for c in dedup_queries(q.must_not)]

        candidates: set[int] | None = None
        for docs, _ in must:
            candidates = docs if candidates is None else candidates & docs
        for docs in filt:
            candidates = docs if candidates is None else candidates & docs

        msm = q.min_should_match
        if candidates is None:
            # pure disjunction: union of SHOULD matches meeting msm
            counts: dict[int, int] = {}
            for docs, _ in should:
                for d in docs:
                    counts[d] = counts.get(d, 0) + 1
            need = max(msm, 1)
            candidates = {d for d, c in counts.items() if c >= need}
        elif msm > 0:
            counts = {}
            for docs, _ in should:
                for d in docs:
                    counts[d] = counts.get(d, 0) + 1
            candidates = {d for d in candidates if counts.get(d, 0) >= msm}

        for docs in nots:
            candidates -= docs

        # combine with the reference's exact float boundaries (scorer tree,
        # mirrored by the engine's local.combine_clauses):
        #   required-only / optional-only: (float) double-sum
        #   req + opt, msm == 0: ReqOptSumScorer float32 addition
        #   req + opt, msm > 0: WAND(should) float joins the conjunction's
        #   double sum
        # every boolean node emits a float32 score (Scorer.score() boundary)
        has_req = bool(must) or bool(filt)
        scores: dict[int, float] = {}
        for d in candidates:
            req = np.float64(0.0)
            for docs, sc in must:
                req += sc[d]
            opt = np.float64(0.0)
            opt_matched = False
            for docs, sc in should:
                if d in docs:
                    opt += sc[d]
                    opt_matched = True
            if not should or not has_req:
                total = np.float32(req + opt) if (must or not has_req) else np.float32(opt)
            elif msm > 0:
                total = np.float32(req + np.float64(np.float32(opt)))
            else:
                total = np.float32(
                    np.float64(np.float32(req)) + np.float64(np.float32(opt))
                )
            scores[d] = float(total)
        return candidates, scores

    def search(self, q: Query, k: int) -> list[tuple[int, np.float32]]:
        """Top-k: (doc_id, float32 score), score desc then docID asc."""
        _, scores = self._matches(q, 1.0)
        hits = [(d, np.float32(s)) for d, s in scores.items()]
        hits.sort(key=lambda h: (-float(h[1]), h[0]))
        return hits[:k]


def dedup_queries(qs: list[Query]) -> list[Query]:
    seen: set[str] = set()
    out: list[Query] = []
    for q in qs:
        key = repr(q)
        if key not in seen:
            seen.add(key)
            out.append(q)
    return out

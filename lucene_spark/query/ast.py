"""Query AST + rewrite rules (BooleanQuery normalization).

A tiny from-scratch query algebra mirroring the reference's query model
(public Apache Lucene source):

  - clause kinds MUST / FILTER / SHOULD / MUST_NOT with
    minimumNumberShouldMatch (``core/search/BooleanQuery.java:125-167``).
  - SHOULD/MUST are multisets (duplicates kept, they score twice);
    FILTER/MUST_NOT are sets (``BooleanQuery.java:134-138``).
  - rewrite rules (``BooleanQuery.java:269-647`` + ``IndexSearcher`` rewrite
    fixpoint): empty boolean -> MatchNoDocs; pure-negative -> MatchNoDocs;
    single-MUST inlining; SHOULD -> MUST when minShouldMatch == #SHOULD;
    nested-disjunction flattening; duplicate FILTER dedup; MatchAll FILTER
    elision; msm > #SHOULD -> MatchNoDocs.
  - BoostQuery folds multiplicatively into the leaf weight
    (``BoostQuery.java:29``, weight = boost * idf at
    ``BM25Similarity.java:244-252``).
  - PrefixQuery / WildcardQuery / TermRangeQuery / TermInSetQuery rewrite to a
    constant-score-free OR over terms found in the term dictionary
    (``MultiTermQuery.java`` rewrite framework; we use the SHOULD expansion).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field as dc_field


class Query:
    def rewrite(self) -> "Query":
        return self


@dataclass(frozen=True)
class TermQuery(Query):
    term: str
    #: BlendedTermQuery analog (``BlendedTermQuery.java:47``): when set, the
    #: idf uses this doc_freq instead of the term's own (the fuzzy rewrite
    #: blends max-df across its expansion set,
    #: ``TopTermsBlendedFreqScoringRewrite``). Matching is unaffected.
    df_override: int | None = None
    def __repr__(self) -> str:
        if self.df_override is not None:
            return f"Term({self.term!r},df={self.df_override})"
        return f"Term({self.term!r})"


@dataclass(frozen=True)
class MatchAllDocsQuery(Query):
    def __repr__(self) -> str:
        return "MatchAll()"


@dataclass(frozen=True)
class MatchNoDocsQuery(Query):
    def __repr__(self) -> str:
        return "MatchNone()"


@dataclass(frozen=True)
class BoostQuery(Query):
    query: Query
    boost: float

    def rewrite(self) -> Query:
        inner = self.query.rewrite()
        if self.boost == 1.0:
            return inner
        if isinstance(inner, BoostQuery):
            return BoostQuery(inner.query, self.boost * inner.boost)
        if isinstance(inner, MatchNoDocsQuery):
            return inner
        return BoostQuery(inner, self.boost)

    def __repr__(self) -> str:
        return f"Boost({self.query!r},{self.boost})"


@dataclass(frozen=True)
class PhraseQuery(Query):
    """Phrase query (``PhraseQuery.java:71``). slop=0 is exact adjacency
    (freq = number of phrase occurrences). slop>0 runs the reference's FULL
    SloppyPhraseMatcher semantics (``SloppyPhraseMatcher.java:52``,
    re-implemented in ``functions/sloppy.py``): out-of-order occurrences
    match when the displacement fits the edit budget — ``"b a"~2`` matches
    text "a b" — and each emitted match contributes sloppyFreq =
    1/(1+matchLength). Repeated terms occupy distinct positions. idf =
    float32 cast of the double sum of per-term float32 idfs
    (``BM25Similarity.java:161-170``)."""
    terms: tuple[str, ...]
    slop: int = 0
    def __repr__(self) -> str:
        s = f"~{self.slop}" if self.slop else ""
        return f"Phrase({list(self.terms)!r}{s})"


@dataclass(frozen=True)
class MultiPhraseQuery(Query):
    """Phrase with per-position alternatives (``MultiPhraseQuery.java:54``):
    slot i matches ANY of its terms; idf = float32 cast of the double sum of
    idfs over ALL existing terms, slot-then-term order
    (``MultiPhraseQuery.java:219-238``)."""
    slots: tuple[tuple[str, ...], ...]
    def __repr__(self) -> str:
        return f"MultiPhrase({[sorted(s) for s in self.slots]!r})"


@dataclass(frozen=True)
class SpanNearQuery(Query):
    """Span proximity (``queries/.../spans/SpanNearQuery.java`` surface,
    simplified): terms within ``slop`` positional gap. ``in_order=True``
    matches strictly in order (ordered greedy next-occurrence, sloppyFreq
    1/(1+gap)) — spans may NOT reorder, unlike PhraseQuery slop.
    ``in_order=False`` is defined for two terms: for each
    occurrence p of term0, the NEAREST occurrence q of term1 (either side)
    matches when |q-p|-1 <= slop, contributing 1/(1+(|q-p|-1)) — a
    documented simplification of the reference's NearSpansUnordered window
    enumeration, chosen because it is independently SQL-replayable."""
    terms: tuple[str, ...]
    slop: int = 0
    in_order: bool = True
    def __repr__(self) -> str:
        o = "ord" if self.in_order else "unord"
        return f"SpanNear({list(self.terms)!r},{self.slop},{o})"


@dataclass(frozen=True)
class SynonymQuery(Query):
    """Terms scored as one pseudo-term: doc_freq = max over terms,
    total_term_freq = sum, per-doc freq = sum (``SynonymQuery.java:211-228``)."""
    terms: tuple[str, ...]
    def __repr__(self) -> str:
        return f"Synonym({sorted(self.terms)!r})"


@dataclass(frozen=True)
class BlendedTermQuery(Query):
    """Terms scored with BLENDED index statistics: every term's idf uses
    df = max(doc_freq) across the set (ttf = sum is tracked by the
    reference but unused by BM25 scoring), then the per-term queries are
    merged by DisMax(tie=0.01) — the DISJUNCTION_MAX_REWRITE default — or
    a SHOULD BooleanQuery (``core/search/BlendedTermQuery.java:282-299``
    rewrite, ``:139-147`` BOOLEAN_REWRITE, ``:190`` default tie).
    Resolved against live stats at execute time (the reference rebuilds
    TermStates per searcher, ``:274-280``)."""
    terms: tuple[str, ...]
    boosts: tuple[float, ...] | None = None
    tie_breaker: float = 0.01
    rewrite_method: str = "dismax"  # "dismax" | "bool"

    def __repr__(self) -> str:
        return (f"Blended({list(self.terms)!r},boosts={self.boosts},"
                f"{self.rewrite_method},{self.tie_breaker})")


@dataclass(frozen=True)
class DisjunctionMaxQuery(Query):
    """max(clause scores) + tie_breaker * sum(other scores)
    (``DisjunctionMaxScorer.java:24-27``)."""
    disjuncts: tuple[Query, ...]
    tie_breaker: float = 0.0

    def rewrite(self) -> Query:
        inner = tuple(q.rewrite() for q in self.disjuncts)
        live = tuple(q for q in inner if not isinstance(q, MatchNoDocsQuery))
        if not live:
            return MatchNoDocsQuery()
        if len(live) == 1:
            return live[0]
        return DisjunctionMaxQuery(live, self.tie_breaker)

    def __repr__(self) -> str:
        return f"DisMax({list(self.disjuncts)!r},{self.tie_breaker})"


@dataclass(frozen=True)
class ConstantScoreQuery(Query):
    """Matches of the wrapped query, all scored boost (score pinning,
    ``ConstantScoreQuery.java:28``)."""
    query: Query

    def rewrite(self) -> Query:
        inner = self.query.rewrite()
        if isinstance(inner, (MatchNoDocsQuery, MatchAllDocsQuery)):
            return inner if isinstance(inner, MatchNoDocsQuery) else MatchAllDocsQuery()
        if isinstance(inner, ConstantScoreQuery):
            return inner
        return ConstantScoreQuery(inner)

    def __repr__(self) -> str:
        return f"Const({self.query!r})"


# multi-term queries: expanded against the term dictionary before execution
@dataclass(frozen=True)
class PrefixQuery(Query):
    prefix: str
    def __repr__(self) -> str:
        return f"Prefix({self.prefix!r})"


@dataclass(frozen=True)
class WildcardQuery(Query):
    pattern: str  # Lucene's wildcard grammar, see wildcard_regex
    def __repr__(self) -> str:
        return f"Wildcard({self.pattern!r})"


def wildcard_regex(pattern: str) -> tuple[str, str]:
    """(regex, literal prefix) of a pattern in Lucene's wildcard grammar
    (``WildcardQuery.toAutomaton``): ``*`` is any string, ``?`` one code
    point, a backslash escapes the next character (a trailing one is
    literal), all else is literal. A term matches when the regex matches
    it whole: Python's ``re.fullmatch`` here, RE2 with ``\\z`` appended
    in the engine's term rule (``search._term_rule``)."""
    parts, prefix, wild, i = [], "", False, 0
    while i < len(pattern):
        c = pattern[i]
        i += 1
        if c == "\\" and i < len(pattern):
            c = pattern[i]
            i += 1
        elif c in "*?":
            parts.append(".*" if c == "*" else ".")
            wild = True
            continue
        parts.append(re.escape(c))
        prefix += "" if wild else c
    return "(?s)^" + "".join(parts), prefix


@dataclass(frozen=True)
class RegexpQuery(Query):
    """Regular-expression term expansion (``RegexpQuery.java:44``): terms
    matching the anchored pattern OR'd (automaton-intersect-term-dict analog;
    here the term dictionary scan applies the regex directly)."""
    pattern: str
    def __repr__(self) -> str:
        return f"Regexp({self.pattern!r})"


@dataclass(frozen=True)
class TermRangeQuery(Query):
    lower: str | None
    upper: str | None
    include_lower: bool = True
    include_upper: bool = True
    def __repr__(self) -> str:
        return f"TermRange({self.lower!r},{self.upper!r},{self.include_lower},{self.include_upper})"


@dataclass(frozen=True)
class FieldRangeQuery(Query):
    """Constant-score range over a stored metadata column (docmap) — the
    PointRangeQuery / NumericDocValuesRangeQuery analog
    (``PointRangeQuery.java:54``): numeric/temporal/string predicates stay
    plain Spark filters on columnar metadata, composed as FILTER clauses."""
    field: str  # conv_id | turn_idx | role | tool | ts
    lower: object = None
    upper: object = None
    include_lower: bool = True
    include_upper: bool = True
    def __repr__(self) -> str:
        return (f"FieldRange({self.field},{self.lower!r},{self.upper!r},"
                f"{self.include_lower},{self.include_upper})")


@dataclass(frozen=True)
class FieldEqualsQuery(Query):
    """Constant-score equality on a stored metadata column; value None means
    IS NOT NULL (the FieldExistsQuery analog, ``FieldExistsQuery.java:41``)."""
    field: str
    value: object = None
    def __repr__(self) -> str:
        return f"FieldEq({self.field},{self.value!r})"


@dataclass(frozen=True)
class FuzzyQuery(Query):
    """Edit-distance term expansion (``FuzzyQuery.java:52``): terms within
    ``max_edits`` Levenshtein of ``term`` (sharing ``prefix_length`` leading
    chars) OR'd with per-term boost ``1 - edits/min(|term|,|candidate|)``,
    each scored with the BLENDED df (max doc_freq across the expansion set
    — ``TopTermsBlendedFreqScoringRewrite``/``BlendedTermQuery.java:47``),
    so rare misspellings cannot outscore the common spelling.

    Documented simplification vs the reference: the candidate set is capped
    at ``max_expansions`` by (boost desc, term asc) instead of a priority
    queue over the automaton enumeration."""
    term: str
    max_edits: int = 2
    prefix_length: int = 0
    max_expansions: int = 50
    def __repr__(self) -> str:
        return (f"Fuzzy({self.term!r},{self.max_edits},{self.prefix_length},"
                f"{self.max_expansions})")


@dataclass(frozen=True)
class TermInSetQuery(Query):
    terms: tuple[str, ...]
    def __repr__(self) -> str:
        return f"TermInSet({sorted(self.terms)!r})"


@dataclass
class BooleanQuery(Query):
    must: list[Query] = dc_field(default_factory=list)
    should: list[Query] = dc_field(default_factory=list)
    filter: list[Query] = dc_field(default_factory=list)
    must_not: list[Query] = dc_field(default_factory=list)
    min_should_match: int = 0

    def __repr__(self) -> str:
        return (
            f"Bool(must={self.must!r},should={self.should!r},filter={sorted(map(repr, self.filter))!r},"
            f"not={sorted(map(repr, self.must_not))!r},msm={self.min_should_match})"
        )

    def rewrite(self) -> Query:
        must = [q.rewrite() for q in self.must]
        should = [q.rewrite() for q in self.should]
        filt = [q.rewrite() for q in self.filter]
        must_not = [q.rewrite() for q in self.must_not]
        msm = self.min_should_match

        # SHOULD -> MUST when minShouldMatch == number of SHOULD clauses
        if should and msm == len(should):
            must, should, msm = must + should, [], 0
        if msm > len(should):
            return MatchNoDocsQuery()

        # MatchNone propagation
        if any(isinstance(q, MatchNoDocsQuery) for q in must + filt):
            return MatchNoDocsQuery()
        should = [q for q in should if not isinstance(q, MatchNoDocsQuery)]
        must_not = [q for q in must_not if not isinstance(q, MatchNoDocsQuery)]
        # MatchAll FILTER is a no-op when other positive clauses exist
        if (must or should) and any(isinstance(q, MatchAllDocsQuery) for q in filt):
            filt = [q for q in filt if not isinstance(q, MatchAllDocsQuery)]
        # MatchAll MUST_NOT kills everything
        if any(isinstance(q, MatchAllDocsQuery) for q in must_not):
            return MatchNoDocsQuery()

        # dedup FILTER / MUST_NOT (sets); keep MUST/SHOULD multisets
        filt = _dedup(filt)
        must_not = _dedup(must_not)

        # flatten nested pure disjunctions into SHOULD (msm<=1 both levels)
        if msm <= 1:
            flat: list[Query] = []
            for q in should:
                if (
                    isinstance(q, BooleanQuery)
                    and not q.must and not q.filter and not q.must_not
                    and q.min_should_match <= 1
                ):
                    flat.extend(q.should)
                else:
                    flat.append(q)
            should = flat

        if not must and not should and not filt:
            return MatchNoDocsQuery()  # empty or pure-negative

        # single-clause inlining
        if len(must) == 1 and not should and not filt and not must_not:
            return must[0]
        if len(should) == 1 and msm <= 1 and not must and not filt and not must_not:
            return should[0]

        return BooleanQuery(must, should, filt, must_not, msm)


def _dedup(qs: list[Query]) -> list[Query]:
    seen: set[str] = set()
    out: list[Query] = []
    for q in qs:
        k = repr(q)
        if k not in seen:
            seen.add(k)
            out.append(q)
    return out


def rewrite_fixpoint(q: Query, max_iter: int = 16) -> Query:
    """IndexSearcher.rewrite analog: rewrite until fixpoint."""
    for _ in range(max_iter):
        nq = q.rewrite()
        if repr(nq) == repr(q):
            return nq
        q = nq
    return q


def expand_multi_term(q: Query, terms_sorted: list[str]) -> Query:
    """Rewrite Prefix/Wildcard/Range/InSet nodes to OR-of-terms against a term
    dictionary (MultiTermQuery rewrite analog). `terms_sorted` is the sorted
    term list (or any iterable of candidate terms)."""
    if isinstance(q, PrefixQuery):
        hits = [t for t in terms_sorted if t.startswith(q.prefix)]
        return _or_terms(hits)
    if isinstance(q, WildcardQuery):
        pat = re.compile(wildcard_regex(q.pattern)[0])
        return _or_terms([t for t in terms_sorted if pat.fullmatch(t)])
    if isinstance(q, RegexpQuery):
        pat = re.compile("^(?:" + q.pattern + ")$")
        return _or_terms([t for t in terms_sorted if pat.match(t)])
    if isinstance(q, TermRangeQuery):
        def ok(t: str) -> bool:
            if q.lower is not None:
                if t < q.lower or (t == q.lower and not q.include_lower):
                    return False
            if q.upper is not None:
                if t > q.upper or (t == q.upper and not q.include_upper):
                    return False
            return True
        return _or_terms([t for t in terms_sorted if ok(t)])
    if isinstance(q, TermInSetQuery):
        s = set(q.terms)
        return _or_terms([t for t in terms_sorted if t in s])
    if isinstance(q, BoostQuery):
        return BoostQuery(expand_multi_term(q.query, terms_sorted), q.boost)
    if isinstance(q, BooleanQuery):
        return BooleanQuery(
            [expand_multi_term(c, terms_sorted) for c in q.must],
            [expand_multi_term(c, terms_sorted) for c in q.should],
            [expand_multi_term(c, terms_sorted) for c in q.filter],
            [expand_multi_term(c, terms_sorted) for c in q.must_not],
            q.min_should_match,
        )
    return q


def _or_terms(terms: list[str]) -> Query:
    if not terms:
        return MatchNoDocsQuery()
    if len(terms) == 1:
        return TermQuery(terms[0])
    return BooleanQuery(should=[TermQuery(t) for t in terms], min_should_match=1)


# ---------------------------------------------------------------- JSON parse

def parse_query(obj: str | dict) -> Query:
    """Parse the FIXTURES.md F2 JSON query-AST format."""
    if isinstance(obj, str):
        obj = json.loads(obj)
    if "term" in obj:
        q: Query = TermQuery(obj["term"])
    elif "prefix" in obj:
        q = PrefixQuery(obj["prefix"])
    elif "wildcard" in obj:
        q = WildcardQuery(obj["wildcard"])
    elif "regexp" in obj:
        q = RegexpQuery(obj["regexp"])
    elif "range" in obj:
        r = obj["range"]
        q = TermRangeQuery(r.get("lower"), r.get("upper"),
                           r.get("include_lower", True), r.get("include_upper", True))
    elif "in" in obj:
        q = TermInSetQuery(tuple(obj["in"]))
    elif "field_range" in obj:
        r = obj["field_range"]
        q = FieldRangeQuery(r["field"], r.get("lower"), r.get("upper"),
                            r.get("include_lower", True), r.get("include_upper", True))
    elif "field_eq" in obj:
        r = obj["field_eq"]
        q = FieldEqualsQuery(r["field"], r.get("value"))
    elif "fuzzy" in obj:
        f = obj["fuzzy"]
        if isinstance(f, str):
            f = {"term": f}
        q = FuzzyQuery(f["term"], f.get("max_edits", 2),
                       f.get("prefix_length", 0), f.get("max_expansions", 50))
    elif "phrase" in obj:
        p = obj["phrase"]
        if isinstance(p, dict):
            q = PhraseQuery(tuple(p["terms"]), int(p.get("slop", 0)))
        else:
            q = PhraseQuery(tuple(p))
    elif "multi_phrase" in obj:
        q = MultiPhraseQuery(tuple(tuple(s) for s in obj["multi_phrase"]))
    elif "span_near" in obj:
        sn = obj["span_near"]
        q = SpanNearQuery(tuple(sn["terms"]), int(sn.get("slop", 0)),
                          bool(sn.get("in_order", True)))
    elif "synonym" in obj:
        q = SynonymQuery(tuple(obj["synonym"]))
    elif "dismax" in obj:
        d = obj["dismax"]
        q = DisjunctionMaxQuery(
            tuple(parse_query(c) for c in d["queries"]),
            float(d.get("tie_breaker", 0.0)),
        )
    elif "blended" in obj:
        bl = obj["blended"]
        if isinstance(bl, list):
            bl = {"terms": bl}
        q = BlendedTermQuery(
            tuple(bl["terms"]),
            tuple(float(x) for x in bl["boosts"]) if bl.get("boosts") else None,
            float(bl.get("tie_breaker", 0.01)),
            bl.get("rewrite", "dismax"),
        )
    elif "constant_score" in obj:
        q = ConstantScoreQuery(parse_query(obj["constant_score"]))
    elif "match_all" in obj:
        q = MatchAllDocsQuery()
    elif "match_none" in obj:
        q = MatchNoDocsQuery()
    elif "bool" in obj:
        b = obj["bool"]
        q = BooleanQuery(
            [parse_query(c) for c in b.get("must", [])],
            [parse_query(c) for c in b.get("should", [])],
            [parse_query(c) for c in b.get("filter", [])],
            [parse_query(c) for c in b.get("must_not", [])],
            b.get("min_should_match", 0),
        )
    else:
        raise ValueError(f"unrecognized query node: {obj}")
    boost = obj.get("boost")
    if boost is not None and boost != 1.0:
        q = BoostQuery(q, float(boost))
    return q

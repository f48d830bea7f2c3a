"""ComplexPhraseQueryParser — phrases with embedded wildcards, fuzzies
and alternative groups (``queryparser/complexPhrase/
ComplexPhraseQueryParser.java:40-140``): ``"(john jon jonathan~) peters*"``
matches docs where any of the alternatives is adjacent to a ``peters``-
prefixed term.

The reference parses the surrounding query with the classic QueryParser
and re-parses every quoted phrase's CONTENT in a second pass, rewriting
each phrase clause into span queries over the same field
(TermQuery -> SpanTerm, Prefix/Wildcard/Fuzzy ->
SpanMultiTermQueryWrapper = the term expansion OR'd, an ``(a b)`` group
-> SpanOr), combined by SpanNearQuery(slop, inOrder).

Here the classic parser (query/parser.py) is subclassed so phrase
bodies parse into :class:`ComplexPhraseQuery` nodes; compilation
expands multi-term slots against the term dictionary (cap 1024 —
IndexSearcher.getMaxClauseCount, the SpanBooleanQueryRewrite guard) and
emits the engine's MultiPhraseQuery AST for slop=0 (fully composable
inside booleans); slop>0 runs the ordered/sloppy span matcher at the
top level (SpanNearQuery semantics). Divergences (documented): groups
may not MIX literal terms with wildcard patterns in one slot, and
slop>0 phrases execute standalone."""

from __future__ import annotations

import re
from dataclasses import dataclass

from lucene_spark.query.ast import (
    FuzzyQuery,
    MatchNoDocsQuery,
    MultiPhraseQuery,
    PrefixQuery,
    Query,
    TermQuery,
    WildcardQuery,
)
from lucene_spark.query.parser import QueryParser, _analyze_term

#: IndexSearcher.getMaxClauseCount default — the span rewrite cap
MAX_EXPANSIONS = 1024


@dataclass(frozen=True)
class ComplexPhraseQuery(Query):
    """A parsed complex phrase: one slot per position, each a tuple of
    literal term strings OR a single multi-term Query (Prefix/Wildcard/
    Fuzzy) to expand at compile time."""

    slots: tuple
    slop: int = 0
    in_order: bool = True

    def __repr__(self) -> str:
        o = "ord" if self.in_order else "unord"
        return f"ComplexPhrase({list(self.slots)!r},{self.slop},{o})"


class ComplexPhraseQueryParser(QueryParser):
    """Classic syntax outside phrases; inside ``"..."``: plain terms,
    ``pre*`` prefixes, ``wi?ld*`` wildcards, ``term~N`` fuzzies and
    ``(a b c)`` alternative groups. ``in_order=False`` selects the
    unordered proximity search (setInOrder)."""

    def __init__(self, analyzer: str = "simple", default_operator: str = "OR",
                 in_order: bool = True):
        super().__init__(analyzer, default_operator)
        self.in_order = bool(in_order)

    # override the phrase construction site: the classic parser calls
    # this indirectly through _parse_clause's phrase branch — easiest
    # faithful hook is re-dispatch on the token stream, so we override
    # _parse_clause only for phrase tokens
    def _parse_clause(self, toks, pos):
        if pos < len(toks) and toks[pos][0] == "phrase":
            body = str(toks[pos][1])
            pos += 1
            slop = 0
            if pos < len(toks) and toks[pos][0] == "word":
                m = re.fullmatch(r"~(\d+)", str(toks[pos][1]))
                if m:
                    slop = int(m.group(1))
                    pos += 1
            return self._maybe_boost(
                self._phrase_body_query(body, slop), toks, pos)
        return super()._parse_clause(toks, pos)

    def _phrase_body_query(self, body: str, slop: int) -> Query:
        slots: list = []
        for tok in re.findall(r"\([^)]*\)|\S+", body.strip()):
            if tok.startswith("(") and tok.endswith(")"):
                alts = []
                for w in tok[1:-1].split():
                    if re.search(r"[*?~]", w):
                        raise ValueError(
                            "alternative groups may not mix literal "
                            f"terms with patterns: {tok!r}")
                    t = _analyze_term(w, self.analyzer)
                    if t is not None:
                        alts.append(t)
                if not alts:
                    return MatchNoDocsQuery()
                slots.append(tuple(alts))
                continue
            m = re.fullmatch(r"(.+?)~(\d*)", tok)
            if m and not re.search(r"[*?]", tok):
                base = _analyze_term(m.group(1), self.analyzer)
                if base is None:
                    return MatchNoDocsQuery()
                edits = int(m.group(2)) if m.group(2) else 2
                slots.append(FuzzyQuery(base, max_edits=min(edits, 2)))
                continue
            if "*" in tok or "?" in tok:
                low = tok.lower()
                if low.endswith("*") and not re.search(r"[*?]", low[:-1]):
                    slots.append(PrefixQuery(low[:-1]))
                else:
                    slots.append(WildcardQuery(low))
                continue
            t = _analyze_term(tok, self.analyzer)
            if t is not None:
                slots.append((t,))
        if not slots:
            return MatchNoDocsQuery()
        if len(slots) == 1 and isinstance(slots[0], tuple) \
                and len(slots[0]) == 1:
            return TermQuery(slots[0][0])
        return ComplexPhraseQuery(tuple(slots), int(slop), self.in_order)


def expand_complex_phrase(q: ComplexPhraseQuery, searcher) -> Query:
    """Resolve multi-term slots against the live term dictionary and
    return the composable engine query: MultiPhraseQuery for slop=0
    (MultiPhraseQuery scoring == the reference's SpanNear(0, true) over
    the expanded alternatives on single-position spans); slop>0 keeps a
    ComplexPhraseQuery with literal slots for the span matcher."""
    slots: list[tuple[str, ...]] = []
    for sl in q.slots:
        if isinstance(sl, tuple):
            slots.append(sl)
            continue
        if isinstance(sl, (PrefixQuery, WildcardQuery)):
            terms = searcher._dict_terms(sl, MAX_EXPANSIONS + 1)
        elif isinstance(sl, FuzzyQuery):
            rows = (searcher._fuzzy_candidates(sl.term, sl.max_edits)
                    .select("term").orderBy("term")
                    .limit(MAX_EXPANSIONS + 1).collect())
            slots.append(tuple(r["term"] for r in rows[:MAX_EXPANSIONS]))
            if len(rows) > MAX_EXPANSIONS:
                raise ValueError("TooManyClauses: fuzzy slot expansion")
            continue
        else:
            raise TypeError(f"unsupported slot {sl!r}")
        if len(terms) > MAX_EXPANSIONS:
            raise ValueError("TooManyClauses: multi-term slot expansion")
        slots.append(tuple(terms))
    if any(not sl for sl in slots):
        return MatchNoDocsQuery()
    if q.slop == 0 and q.in_order:
        return MultiPhraseQuery(tuple(slots))
    return ComplexPhraseQuery(tuple(slots), q.slop, q.in_order)

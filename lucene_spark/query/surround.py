"""Surround query parser — span-proximity syntax
(``queryparser/surround``): infix/prefix ``AND OR NOT`` plus the
positional operators ``W`` (ordered) and ``N`` (unordered) with an
optional 2-99 distance prefix (``3W(a, b)`` = within three positions),
prefix (``term*``) and truncated (``te?m*``) terms, quoted literals,
field prefixes (``f:``) and ``^boost`` weights.

The tokenizer/grammar replays the JavaCC definition
(``surround/parser/QueryParser.jj``) exactly — longest-match with
declaration-order tie-breaks, so a bare ``w``/``or`` is always the
OPERATOR, ``12w`` is a distance token but ``1w`` a term, the ``^``
boost state accepts digits immediately (no whitespace), and the
validations replay the parser's: suffix terms need >= 3 prefix chars
(MINIMUM_PREFIX_LENGTH), truncated terms >= 3 normal chars, boosts must
parse and be > 0, and ``W``/``N`` operands must be distance-compatible
(terms, prefixes, truncations, or ORs/distances of those —
``DistanceQuery.distanceSubQueryNotAllowed``). Tree parity is fuzzed
against the compiled reference parser (tools/surround_parity.py).

Execution (:func:`compile_surround` + ``IndexSearcher.search_surround``)
maps onto the engine: AND/OR/NOT -> BooleanQuery (NOT = first clause
MUST, rest MUST_NOT, ``query/NotQuery.java:36-46``), W/N ->
the span-near machinery with slop = distance-1 (``DistanceQuery.java``
getSpanNearQuery), prefix/truncated operands expanded against the term
dictionary into per-slot alternatives (SpanNearClauseFactory's SpanOr),
standalone prefix/trunc -> PrefixQuery/WildcardQuery rewrites. Like the
reference, surround does NOT analyze terms — they match index terms
verbatim."""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field

MINIMUM_PREFIX_LENGTH = 3
MINIMUM_CHARS_IN_TRUNC = 3
TRUNCATION_ERROR_MESSAGE = "Too unrestrictive truncation: "
BOOST_ERROR_MESSAGE = "Cannot handle boost value: "


class SurroundParseError(ValueError):
    """ParseException analog — raised for syntax AND validation errors."""


# ------------------------------------------------------------- tree

@dataclass
class Srnd:
    weight: float = dc_field(default=1.0, init=False)


@dataclass
class SrndTerm(Srnd):
    text: str
    quoted: bool = False


@dataclass
class SrndPrefix(Srnd):
    prefix: str
    quoted: bool = False


@dataclass
class SrndTrunc(Srnd):
    pattern: str   # * = any sequence, ? = exactly one char


@dataclass
class SrndBool(Srnd):
    op: str                    # "or" | "and" | "not"
    queries: list
    infix: bool = True
    op_name: str = ""          # original token image (toString parity)


@dataclass
class SrndDistance(Srnd):
    queries: list
    dist: int
    ordered: bool
    infix: bool = True
    op_name: str = ""


@dataclass
class SrndFields(Srnd):
    fields: list
    q: object


# -------------------------------------------------------- tokenizer

_TERM_CHAR = r'[^ \t\n\r,?*():^"]'
#: token regexes in DECLARATION order (JavaCC tie-break); each tried at
#: the current position, longest match wins, earlier rule on ties
_TOKEN_RULES = [
    ("OR", re.compile(r"OR|or")),
    ("AND", re.compile(r"AND|and")),
    ("NOT", re.compile(r"NOT|not")),
    ("W", re.compile(r"(?:[2-9][0-9]?|1[0-9])?[Ww]")),
    ("N", re.compile(r"(?:[2-9][0-9]?|1[0-9])?[Nn]")),
    ("LPAREN", re.compile(r"\(")),
    ("RPAREN", re.compile(r"\)")),
    ("COMMA", re.compile(r",")),
    ("COLON", re.compile(r":")),
    ("CARAT", re.compile(r"\^")),
    ("TRUNCQUOTED", re.compile(r'"[^"]+"\*')),
    ("QUOTED", re.compile(r'"(?:[^"\\]|\\["\\])+"')),
    ("SUFFIXTERM", re.compile(_TERM_CHAR + r"+\*")),
    ("TRUNCTERM", re.compile(
        _TERM_CHAR + r"+[*?]+(?:" + _TERM_CHAR + r"|[*?])*")),
    ("TERM", re.compile(_TERM_CHAR + r"+")),
]
_NUMBER = re.compile(r"[0-9]+(?:\.[0-9]+)?")
_WS = re.compile(r"[ \t\n\r]+")


def _lex(s: str) -> list[tuple[str, str]]:
    out: list[tuple[str, str]] = []
    i = 0
    n = len(s)
    while i < n:
        m = _WS.match(s, i)
        if m:
            i = m.end()
            continue
        best = None   # (length, rule_index, kind, image)
        for ri, (kind, rx) in enumerate(_TOKEN_RULES):
            mm = rx.match(s, i)
            if mm and mm.end() > i:
                cand = (mm.end() - i, -ri)
                if best is None or cand > (best[0], -best[1]):
                    best = (mm.end() - i, ri, kind, mm.group(0))
        if best is None:
            raise SurroundParseError(f"cannot tokenize at: {s[i:]!r}")
        _, _, kind, image = best
        i += len(image)
        if kind == "CARAT":
            # Boost lexer state: NUMBER must follow IMMEDIATELY (the
            # <Boost> state has no whitespace SKIP rule)
            mm = _NUMBER.match(s, i)
            if not mm:
                raise SurroundParseError(
                    f"expected boost number after ^ at: {s[i:]!r}")
            out.append(("CARAT", "^"))
            out.append(("NUMBER", mm.group(0)))
            i = mm.end()
        else:
            out.append((kind, image))
    out.append(("EOF", ""))
    return out


# ----------------------------------------------------------- parser

class SurroundParser:
    """Recursive descent replaying QueryParser.jj's productions."""

    def __init__(self, query: str):
        self.toks = _lex(query)
        self.pos = 0

    def _peek(self, ahead: int = 0) -> tuple[str, str]:
        return self.toks[min(self.pos + ahead, len(self.toks) - 1)]

    def _next(self, kind: str | None = None) -> tuple[str, str]:
        t = self.toks[self.pos]
        if kind is not None and t[0] != kind:
            raise SurroundParseError(f"expected {kind}, got {t}")
        self.pos += 1
        return t

    def parse(self):
        q = self._fields_query()
        self._next("EOF")
        return q

    def _fields_query(self):
        fields = self._optional_fields()
        q = self._or_query()
        return q if fields is None else SrndFields(fields, q)

    def _optional_fields(self):
        fields = None
        # LOOKAHEAD(2): TERM followed by COLON
        while self._peek()[0] == "TERM" and self._peek(1)[0] == "COLON":
            fields = fields or []
            fields.append(self._next("TERM")[1])
            self._next("COLON")
        return fields

    def _infix_chain(self, sub, kinds: tuple[str, ...], make):
        q = sub()
        queries = None
        last_op = None
        while self._peek()[0] in kinds:
            last_op = self._next()
            if queries is None:
                queries = [q]
            queries.append(sub())
        return q if queries is None else make(queries, last_op)

    def _or_query(self):
        return self._infix_chain(
            self._and_query, ("OR",),
            lambda qs, op: SrndBool("or", qs, True, op[1]))

    def _and_query(self):
        return self._infix_chain(
            self._not_query, ("AND",),
            lambda qs, op: SrndBool("and", qs, True, op[1]))

    def _not_query(self):
        return self._infix_chain(
            self._n_query, ("NOT",),
            lambda qs, op: SrndBool("not", qs, True, op[1]))

    def _distance_chain(self, sub, kind: str, ordered: bool):
        # left associative: a W b W c == ((a W b) W c)
        q = sub()
        while self._peek()[0] == kind:
            op = self._next()
            rhs = sub()
            q = self._make_distance([q, rhs], op[1], ordered, True)
        return q

    def _n_query(self):
        return self._distance_chain(self._w_query, "N", False)

    def _w_query(self):
        return self._distance_chain(self._primary_query, "W", True)

    @staticmethod
    def _op_distance(image: str) -> int:
        return 1 if len(image) == 1 else int(image[:-1])

    def _make_distance(self, queries, op_image: str, ordered: bool,
                       infix: bool) -> SrndDistance:
        dq = SrndDistance(queries, self._op_distance(op_image), ordered,
                          infix, op_image)
        m = _distance_sub_query_not_allowed(dq)
        if m is not None:
            raise SurroundParseError(f"Operator {op_image}: {m}")
        return dq

    def _primary_query(self):
        kind = self._peek()[0]
        if kind == "LPAREN":
            self._next()
            q = self._fields_query()
            self._next("RPAREN")
        elif kind in ("OR", "AND", "N", "W"):
            q = self._prefix_operator_query()
        else:
            q = self._simple_term()
        self._optional_weights(q)
        return q

    def _prefix_operator_query(self):
        op = self._next()
        queries = self._fields_query_list()
        if op[0] == "OR":
            return SrndBool("or", queries, False, op[1])
        if op[0] == "AND":
            return SrndBool("and", queries, False, op[1])
        ordered = op[0] == "W"
        return self._make_distance(queries, op[1], ordered, False)

    def _fields_query_list(self):
        self._next("LPAREN")
        queries = [self._fields_query()]
        self._next("COMMA")
        queries.append(self._fields_query())
        while self._peek()[0] == "COMMA":
            self._next()
            queries.append(self._fields_query())
        self._next("RPAREN")
        return queries

    def _simple_term(self):
        kind, image = self._peek()
        if kind == "TERM":
            self._next()
            return SrndTerm(image, False)
        if kind == "QUOTED":
            self._next()
            return SrndTerm(image[1:-1], True)
        if kind == "SUFFIXTERM":
            self._next()
            if len(image) - 1 < MINIMUM_PREFIX_LENGTH:
                raise SurroundParseError(TRUNCATION_ERROR_MESSAGE + image)
            return SrndPrefix(image[:-1], False)
        if kind == "TRUNCTERM":
            self._next()
            if sum(1 for c in image if c not in "*?") \
                    < MINIMUM_CHARS_IN_TRUNC:
                raise SurroundParseError(TRUNCATION_ERROR_MESSAGE + image)
            return SrndTrunc(image)
        if kind == "TRUNCQUOTED":
            self._next()
            if len(image) - 3 < MINIMUM_PREFIX_LENGTH:
                raise SurroundParseError(TRUNCATION_ERROR_MESSAGE + image)
            return SrndPrefix(image[1:-2], True)
        raise SurroundParseError(f"unexpected token {kind} {image!r}")

    def _optional_weights(self, q) -> None:
        while self._peek()[0] == "CARAT":
            self._next()
            image = self._next("NUMBER")[1]
            f = float(image)   # grammar guarantees parseable
            if f <= 0.0:
                raise SurroundParseError(BOOST_ERROR_MESSAGE + image)
            # setWeight(f * getWeight()) — float32 multiply, left assoc
            import numpy as np

            q.weight = float(np.float32(np.float32(f)
                                        * np.float32(q.weight)))
            q._weighted = True


def _distance_sub_query_not_allowed(dq) -> str | None:
    """DistanceQuery.distanceSubQueryNotAllowed: operands must be
    SimpleTerms, nested distances, or ORs of those."""
    for sub in dq.queries:
        if isinstance(sub, (SrndTerm, SrndPrefix, SrndTrunc)):
            continue
        if isinstance(sub, SrndDistance):
            m = _distance_sub_query_not_allowed(sub)
            if m is not None:
                return m
            continue
        if isinstance(sub, SrndBool) and sub.op == "or":
            m = _distance_sub_query_not_allowed(
                SrndDistance(sub.queries, 1, True))
            if m is not None:
                return m
            continue
        return f"subquery not allowed: {sub!r}"
    return None


def _weight_suffix(q) -> str:
    """SrndQuery.weightToString: '^' + Float.toString(weight) when a ^
    was applied (float32 shortest repr — numpy float32 str)."""
    import numpy as np

    if getattr(q, "_weighted", False):
        return "^" + str(np.float32(q.weight))
    return ""


def to_string(q) -> str:
    """The reference SrndQuery.toString formats, node for node."""
    if isinstance(q, SrndTerm):
        body = f'"{q.text}"' if q.quoted else q.text
        return body + _weight_suffix(q)
    if isinstance(q, SrndPrefix):
        body = f'"{q.prefix}"' if q.quoted else q.prefix
        return body + "*" + _weight_suffix(q)
    if isinstance(q, SrndTrunc):
        return q.pattern + _weight_suffix(q)
    if isinstance(q, (SrndBool, SrndDistance)):
        subs = [to_string(s) for s in q.queries]
        if q.infix:
            body = "(" + (" " + q.op_name + " ").join(subs) + ")"
        else:
            body = q.op_name + "(" + ", ".join(subs) + ")"
        return body + _weight_suffix(q)
    if isinstance(q, SrndFields):
        return ("(" + "".join(f + ":" for f in q.fields)
                + to_string(q.q) + ")")
    raise TypeError(type(q))


def parse_surround(query: str):
    return SurroundParser(query).parse()


# ------------------------------------------------------ compilation

#: BasicQueryFactory.maxBasicQueries default
MAX_BASIC_QUERIES = 1024


def compile_surround(srnd, searcher, default_field: str = "text"):
    """Srnd tree -> engine Query AST (terms NOT analyzed, reference
    semantics). Distance operators need the searcher to expand
    prefix/truncated operands against the term dictionary (capped at
    MAX_BASIC_QUERIES, the TooManyBasicQueries guard). Nested distance
    operators inside a distance are a documented divergence (the slot
    model is flat) and raise."""
    from lucene_spark.query.ast import (
        BooleanQuery, BoostQuery, PrefixQuery, TermQuery, WildcardQuery,
    )

    def wrap(q, weight: float):
        return q if weight == 1.0 else BoostQuery(q, float(weight))

    if isinstance(srnd, SrndFields):
        if srnd.fields != [default_field]:
            raise ValueError(
                f"only the {default_field!r} field is indexed; got "
                f"{srnd.fields!r}")
        inner = compile_surround(srnd.q, searcher, default_field)
        if isinstance(inner, _DistancePlan):
            inner.weight *= srnd.weight
            return inner
        return wrap(inner, srnd.weight)
    if isinstance(srnd, SrndTerm):
        return wrap(TermQuery(srnd.text), srnd.weight)
    if isinstance(srnd, SrndPrefix):
        return wrap(PrefixQuery(srnd.prefix), srnd.weight)
    if isinstance(srnd, SrndTrunc):
        return wrap(WildcardQuery(srnd.pattern), srnd.weight)
    if isinstance(srnd, SrndBool):
        subs = [compile_surround(q, searcher, default_field)
                for q in srnd.queries]
        if any(isinstance(x, _DistancePlan) for x in subs):
            raise ValueError(
                "multi-alternative distance operators compose only at "
                "the top level (single-term distances compile to "
                "SpanNearQuery and nest freely)")
        if srnd.op == "or":
            return wrap(BooleanQuery(should=subs), srnd.weight)
        if srnd.op == "and":
            return wrap(BooleanQuery(must=subs), srnd.weight)
        return wrap(BooleanQuery(must=[subs[0]], must_not=subs[1:]),
                    srnd.weight)
    if isinstance(srnd, SrndDistance):
        plan = _DistancePlan(srnd, searcher)
        if all(len(sl) == 1 for sl in plan.slots) and (
                plan.ordered or len(plan.slots) == 2):
            # composable engine AST — nests inside booleans
            from lucene_spark.query.ast import SpanNearQuery

            return wrap(SpanNearQuery(
                tuple(sl[0] for sl in plan.slots), plan.slop,
                in_order=plan.ordered), srnd.weight)
        return plan
    raise TypeError(type(srnd))


class _DistancePlan:
    """Compiled distance operator: slots of term alternatives + slop.
    Executed by IndexSearcher.search_surround (ordered = the ordered
    greedy span matcher over slot alternatives; unordered = the two-term
    nearest-occurrence matcher)."""

    def __init__(self, srnd: SrndDistance, searcher):
        self.slop = int(srnd.dist) - 1
        self.ordered = bool(srnd.ordered)
        self.weight = float(srnd.weight)
        self.slots: list[tuple[str, ...]] = [
            tuple(self._expand(q, searcher)) for q in srnd.queries
        ]

    def _expand(self, q, searcher) -> list[str]:
        import pyspark.sql.functions as F

        from lucene_spark.query.ast import PrefixQuery

        if isinstance(q, SrndTerm):
            return [q.text]
        if isinstance(q, SrndBool) and q.op == "or":
            out: list[str] = []
            for sub in q.queries:
                out.extend(self._expand(sub, searcher))
            return out
        if isinstance(q, (SrndPrefix, SrndTrunc)):
            if isinstance(q, SrndPrefix):
                terms = searcher._dict_terms(PrefixQuery(q.prefix),
                                             MAX_BASIC_QUERIES + 1)
            else:
                rx = "^" + re.escape(q.pattern).replace(
                    r"\*", ".*").replace(r"\?", ".") + "$"
                terms = [r["term"] for r in (
                    searcher.term_dict.filter(F.col("term").rlike(rx))
                    .select("term").orderBy("term")
                    .limit(MAX_BASIC_QUERIES + 1).collect())]
            if len(terms) > MAX_BASIC_QUERIES:
                raise ValueError(
                    f"Exceeded maximum of {MAX_BASIC_QUERIES} basic "
                    "queries (TooManyBasicQueries)")
            return terms
        if isinstance(q, SrndDistance):
            raise ValueError(
                "nested distance operators are not supported by the "
                "slot execution model (documented divergence)")
        raise ValueError(f"subquery not allowed in distance: {q!r}")

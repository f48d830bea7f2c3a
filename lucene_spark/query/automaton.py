"""Lucene ``RegExp`` -> executable automaton (Brzozowski derivatives).

``query/regexp.py`` translates the reference's RegExp grammar
(``core/util/automaton/RegExp.java:354``) into RE2 patterns,
which covers everything EXCEPT intersection (``&``) nested below the top
level — a conjunction of full-match regexes can express ``a&b`` but not
``(a&b)c`` (no lookahead in RE2). The reference has no such limit because
it compiles the parse tree into a DFA (``RegExp.toAutomaton`` ->
``Operations.intersection``, ``core/util/automaton/Operations.java``).

This module is the engine's automaton layer for exactly that residue:

- ``parse_ast(pattern)`` — the same grammar as ``translate_regexp`` but
  producing a hashable AST instead of regex strings.
- ``RegexpMatcher(pattern)`` — membership testing via regular-expression
  DERIVATIVES (Brzozowski 1964; Owens/Reppy/Turon, "Regular-expression
  derivatives re-examined", JFP 2009): ``deriv_c(r&s) = deriv_c(r) &
  deriv_c(s)`` handles intersection natively, and memoized derivatives
  over canonicalized nodes build a lazy DFA — each distinct (state, char)
  transition is computed once, so matching a term dictionary costs
  O(total chars) dict lookups after warm-up.
- ``superset_regex(ast)`` — a regex for the language with every
  ``&`` weakened to ``|`` (union ⊇ intersection), the sound pre-filter of
  the term rule (``search._term_rule``); the matcher then checks the
  candidates exactly. This mirrors the reference's ``CompiledAutomaton``
  common-suffix/prefix acceleration in spirit: cheap necessary condition
  first, exact automaton second.

The matcher runs on the DISTINCT TERM DICTIONARY (vocabulary-sized,
never the corpus row path), in the term rule's walk over Arrow record
batches — the same place the reference runs its automata
(``Terms.intersect``).

Scale note: repetition desugaring (``a{n,m}`` -> n copies + (m-n)
optionals) is bounded by ``_MAX_DESUGAR`` total nodes; the reference's
``Operations.determinize`` has the analogous ``determinizeWorkLimit``
guard (``TooComplexToDeterminizeException``).
"""

from __future__ import annotations

from lucene_spark.query.regexp import (
    _LETTERS,
    _MAX_CP,
    _PRE,
    UnsupportedRegexpError,
)

# AST nodes — plain nested tuples so they hash/compare structurally:
#   ("empty",)                 the empty LANGUAGE ('#')
#   ("eps",)                   the empty STRING ('()')
#   ("ranges", ((lo,hi),...))  one char from the (merged, sorted) ranges
#   ("concat", (a, b, ...))    flattened, >=2 members, no eps/empty
#   ("union", (a, b, ...))     flattened, sorted, deduped, >=2 members
#   ("inter", (a, b, ...))     flattened, sorted, deduped, >=2 members
#   ("star", a)                Kleene star
EMPTY = ("empty",)
EPS = ("eps",)
ANY_CHAR = ("ranges", ((0, _MAX_CP),))

_MAX_DESUGAR = 20_000


def _merge_ranges(ranges):
    """Sort + coalesce (lo, hi) code-point ranges; drop empties."""
    rs = sorted((lo, hi) for lo, hi in ranges if lo <= hi)
    out = []
    for lo, hi in rs:
        if out and lo <= out[-1][1] + 1:
            out[-1] = (out[-1][0], max(out[-1][1], hi))
        else:
            out.append((lo, hi))
    return tuple(out)


def _complement_ranges(ranges):
    """[0, MAX_CP] minus the (already merged) ranges."""
    out = []
    nxt = 0
    for lo, hi in ranges:
        if lo > nxt:
            out.append((nxt, lo - 1))
        nxt = max(nxt, hi + 1)
    if nxt <= _MAX_CP:
        out.append((nxt, _MAX_CP))
    return tuple(out)


# ------------------------------------------------------ smart constructors
# Canonical forms keep the derivative state space finite and small
# (Owens/Reppy/Turon §4.1: similarity rules).

def ranges(rs, negate=False):
    merged = _merge_ranges(rs)
    if negate:
        merged = _complement_ranges(merged)
    if not merged:
        return EMPTY
    return ("ranges", merged)


def char(cp):
    return ("ranges", ((cp, cp),))


def concat(parts):
    flat = []
    for p in parts:
        if p == EMPTY:
            return EMPTY
        if p == EPS:
            continue
        if p[0] == "concat":
            flat.extend(p[1])
        else:
            flat.append(p)
    if not flat:
        return EPS
    if len(flat) == 1:
        return flat[0]
    return ("concat", tuple(flat))


def union(parts):
    flat = set()
    for p in parts:
        if p == EMPTY:
            continue
        if p[0] == "union":
            flat.update(p[1])
        else:
            flat.add(p)
    if not flat:
        return EMPTY
    if len(flat) == 1:
        return next(iter(flat))
    return ("union", tuple(sorted(flat)))


def inter(parts):
    flat = set()
    for p in parts:
        if p == EMPTY:
            return EMPTY
        if p[0] == "inter":
            flat.update(p[1])
        else:
            flat.add(p)
    if not flat:
        return EMPTY
    if len(flat) == 1:
        return next(iter(flat))
    return ("inter", tuple(sorted(flat)))


def star(a):
    if a in (EPS, EMPTY):
        return EPS
    if a[0] == "star":
        return a
    return ("star", a)


def _ast_size(a, cap: int) -> int:
    """Node count of an AST, short-circuiting once past ``cap`` (keeps the
    guard itself O(cap) even against adversarial nesting)."""
    total = 1
    stack = [a]
    while stack and total <= cap:
        node = stack.pop()
        kind = node[0]
        if kind in ("concat", "union"):
            stack.extend(node[1])
            total += len(node[1])
        elif kind in ("star", "plus", "opt"):
            stack.append(node[1])
            total += 1
    return total


def _repeat(a, n, m):
    """a{n,m} desugared; m == -1 means unbounded. Bounded by _MAX_DESUGAR
    TOTAL desugared nodes (copies × node-size of the operand — a per-copy
    bound alone would let chained repetitions like a{200}{200}{200} grow
    exponentially past the guard); the reference's determinize-work-limit
    analog."""
    copies = n + (0 if m == -1 else (m - n))
    if copies > _MAX_DESUGAR or (
            copies * _ast_size(a, _MAX_DESUGAR) > _MAX_DESUGAR):
        raise UnsupportedRegexpError(
            f"repetition {{{n},{m}}} exceeds the automaton size bound "
            f"({_MAX_DESUGAR}) — the reference's determinizeWorkLimit throws "
            "TooComplexToDeterminizeException for the same shapes")
    parts = [a] * n
    if m == -1:
        parts.append(star(a))
    else:
        opt = union([EPS, a])
        parts.extend([opt] * (m - n))
    return concat(parts)


def _interval_ast(imin, imax, digits):
    """``Automata.makeDecimalInterval`` as an AST: fixed width when
    ``digits`` > 0 (equal-length bounds), else ``0*`` + any-width value.
    Same decomposition as regexp.py's ``_interval_regex``."""
    def digit_seg(lo_digits, hi_digits):
        # list of concat-able node lists covering [lo..hi] per position
        if not lo_digits:
            return [[]]
        lo0, hi0 = lo_digits[0], hi_digits[0]
        if lo0 == hi0:
            return [[char(ord(lo0))] + tail
                    for tail in digit_seg(lo_digits[1:], hi_digits[1:])]
        rest = len(lo_digits) - 1
        out = [[char(ord(lo0))] + tail
               for tail in digit_seg(lo_digits[1:], "9" * rest)]
        if ord(hi0) - ord(lo0) >= 2:
            mid = ranges([(ord(lo0) + 1, ord(hi0) - 1)])
            out.append([mid] + [ranges([(0x30, 0x39)])] * rest)
        out += [[char(ord(hi0))] + tail
                for tail in digit_seg("0" * rest, hi_digits[1:])]
        return out

    if digits > 0:
        lo = str(imin).rjust(digits, "0")
        hi = str(imax).rjust(digits, "0")
        return union([concat(seg) for seg in digit_seg(lo, hi)])
    alts = []
    for width in range(len(str(imin)), len(str(imax)) + 1):
        lo_w = max(imin, 10 ** (width - 1) if width > 1 else 0)
        hi_w = min(imax, 10 ** width - 1)
        if lo_w > hi_w:
            continue
        alts += [concat(seg) for seg in
                 digit_seg(str(lo_w).rjust(width, "0"),
                           str(hi_w).rjust(width, "0"))]
    return concat([star(char(0x30)), union(alts)])


# ------------------------------------------------------------------ parser
# Same grammar as regexp.py's _Parser (RegExp.java, flags=ALL) — producing
# AST nodes instead of regex strings, with NO top-level restriction on '&'.

class _AstParser:
    def __init__(self, s):
        self.s = s
        self.pos = 0

    def more(self):
        return self.pos < len(self.s)

    def peek(self, chars):
        return self.more() and self.s[self.pos] in chars

    def match(self, c):
        if self.more() and self.s[self.pos] == c:
            self.pos += 1
            return True
        return False

    def next(self):
        if not self.more():
            raise ValueError("unexpected end-of-string")
        c = self.s[self.pos]
        self.pos += 1
        return c

    def parse_union(self):
        first = self.parse_inter()
        if self.match("|"):
            return union([first, self.parse_union()])
        return first

    def parse_inter(self):
        first = self.parse_concat()
        if self.match("&"):
            return inter([first, self.parse_inter()])
        return first

    def parse_concat(self):
        out = [self.parse_repeat()]
        while self.more() and not self.peek("|&)"):
            out.append(self.parse_repeat())
        return concat(out)

    def parse_repeat(self):
        e = self.parse_charclass()
        while self.peek("?*+{"):
            if self.match("?"):
                e = union([EPS, e])
            elif self.match("*"):
                e = star(e)
            elif self.match("+"):
                e = concat([e, star(e)])
            elif self.match("{"):
                start = self.pos
                while self.peek("0123456789"):
                    self.pos += 1
                if start == self.pos:
                    raise ValueError(
                        f"integer expected at position {self.pos}")
                n = int(self.s[start:self.pos])
                if self.match(","):
                    start = self.pos
                    while self.peek("0123456789"):
                        self.pos += 1
                    m = int(self.s[start:self.pos]) if start != self.pos else -1
                else:
                    m = n
                if not self.match("}"):
                    raise ValueError(f"expected '}}' at position {self.pos}")
                if m != -1 and n > m:
                    raise ValueError(
                        f"invalid repetition range(out of order): {n}..{m}")
                e = _repeat(e, n, m)
        return e

    def parse_charclass(self):
        if self.match("["):
            negate = self.match("^")
            rs = self.parse_class_body()
            if not self.match("]"):
                raise ValueError(f"expected ']' at position {self.pos}")
            return ranges(rs, negate)
        return self.parse_simple()

    def parse_class_body(self):
        rs = []
        while True:
            if self.match("\\"):
                if self.peek("\\" + "".join(sorted(_LETTERS))):
                    rs += self.expand_predefined()
                else:
                    c = self.next()
                    rs.append((ord(c), ord(c)))
            else:
                c = self.parse_char_exp()
                if self.match("-"):
                    d = self.parse_char_exp()
                    rs.append((ord(c), ord(d)))
                else:
                    rs.append((ord(c), ord(c)))
            if not (self.more() and not self.peek("]")):
                break
        return rs

    def expand_predefined(self):
        if self.peek("\\"):
            self.next()
            return [(0x5C, 0x5C)]
        if self.more() and self.s[self.pos] in _PRE:
            return list(_PRE[self.next()])
        if self.more() and self.s[self.pos] in _LETTERS:
            raise ValueError(f"invalid character class \\{self.next()}")
        c = self.next()
        return [(ord(c), ord(c))]

    def parse_char_exp(self):
        self.match("\\")
        return self.next()

    def parse_simple(self):
        if self.match("."):
            return ANY_CHAR
        if self.match("#"):
            return EMPTY
        if self.match("@"):
            return star(ANY_CHAR)
        if self.match('"'):
            start = self.pos
            while self.more() and not self.peek('"'):
                self.pos += 1
            if not self.match('"'):
                raise ValueError(f"expected '\"' at position {self.pos}")
            lit = self.s[start:self.pos - 1]
            return concat([char(ord(c)) for c in lit])
        if self.match("("):
            if self.match(")"):
                return EPS
            inner = self.parse_union()
            if not self.match(")"):
                raise ValueError(f"expected ')' at position {self.pos}")
            return inner
        if self.match("<"):
            start = self.pos
            while self.more() and not self.peek(">"):
                self.pos += 1
            if not self.match(">"):
                raise ValueError(f"expected '>' at position {self.pos}")
            body = self.s[start:self.pos - 1]
            i = body.find("-")
            if i == -1:
                raise UnsupportedRegexpError(
                    f"named automaton <{body}> requires an "
                    "AutomatonProvider (none configured — the reference "
                    "throws here too)")
            smin, smax = body[:i], body[i + 1:]
            if (not smin or not smax or "-" in smax
                    or not smin.isdigit() or not smax.isdigit()):
                raise ValueError(
                    f"interval syntax error at position {self.pos - 1}")
            imin, imax = int(smin), int(smax)
            digits = len(smin) if len(smin) == len(smax) else 0
            if imin > imax:
                imin, imax = imax, imin
            return _interval_ast(imin, imax, digits)
        if self.match("\\"):
            if self.peek("\\"):
                self.next()
                return char(0x5C)
            if self.more() and self.s[self.pos] in _PRE:
                return ranges(_PRE[self.next()])
            if self.more() and self.s[self.pos] in _LETTERS:
                raise ValueError(
                    f"invalid character class \\{self.next()}")
            return char(ord(self.next()))
        return char(ord(self.next()))


def parse_ast(pattern):
    """Lucene RegExp -> canonical AST. Raises the same errors the string
    translator raises for the same inputs (syntax errors, named automata),
    but ACCEPTS nested intersection."""
    p = _AstParser(pattern)
    out = p.parse_union()
    if p.more():
        raise ValueError(f"end-of-string expected at position {p.pos}")
    return out


def has_intersection(node):
    if node[0] == "inter":
        return True
    if node[0] in ("concat", "union"):
        return any(has_intersection(c) for c in node[1])
    if node[0] == "star":
        return has_intersection(node[1])
    return False


# ------------------------------------------------------------- derivatives

def _nullable(node, memo):
    v = memo.get(node)
    if v is not None:
        return v
    tag = node[0]
    if tag == "eps":
        v = True
    elif tag in ("empty", "ranges"):
        v = False
    elif tag == "star":
        v = True
    elif tag == "concat":
        v = all(_nullable(c, memo) for c in node[1])
    elif tag == "union":
        v = any(_nullable(c, memo) for c in node[1])
    else:  # inter
        v = all(_nullable(c, memo) for c in node[1])
    memo[node] = v
    return v


def _derive(node, cp, memo, nmemo):
    key = (node, cp)
    v = memo.get(key)
    if v is not None:
        return v
    tag = node[0]
    if tag in ("eps", "empty"):
        v = EMPTY
    elif tag == "ranges":
        v = EMPTY
        for lo, hi in node[1]:
            if lo <= cp <= hi:
                v = EPS
                break
    elif tag == "star":
        v = concat([_derive(node[1], cp, memo, nmemo), node])
    elif tag == "union":
        v = union([_derive(c, cp, memo, nmemo) for c in node[1]])
    elif tag == "inter":
        v = inter([_derive(c, cp, memo, nmemo) for c in node[1]])
    else:  # concat — deriv(a·rest) = deriv(a)·rest (∪ deriv(rest) if a nullable)
        parts = node[1]
        head, rest = parts[0], parts[1:]
        first = concat([_derive(head, cp, memo, nmemo)] + list(rest))
        if _nullable(head, nmemo):
            tail = concat(list(rest))
            v = union([first, _derive(tail, cp, memo, nmemo)])
        else:
            v = first
    memo[key] = v
    return v


class RegexpMatcher:
    """Whole-term membership test for a Lucene RegExp pattern — the lazy
    DFA over derivative states. Construct INSIDE the executor UDF from the
    pattern string (cheap); the transition/nullable memos warm up across
    the batch, so a vocabulary scan is ~O(total characters)."""

    def __init__(self, pattern):
        self.ast = parse_ast(pattern)
        self._dmemo = {}
        self._nmemo = {}

    def matches(self, term):
        node = self.ast
        for ch in term:
            node = _derive(node, ord(ch), self._dmemo, self._nmemo)
            if node == EMPTY:
                return False
        return _nullable(node, self._nmemo)

    def match_series(self, terms):
        """pandas Series[str] -> list[bool] (Arrow-batch entry point)."""
        m = self.matches
        return [m(t) for t in terms]


# --------------------------------------------- superset regex (pre-filter)

def _to_regex(node):
    """AST -> RE2 full-match regex body, with ``inter`` weakened to
    union — the result matches a SUPERSET of the AST's language (exact
    when the AST has no intersection). Emitted dialect = the same common
    subset regexp.py emits."""
    from lucene_spark.query.regexp import _NEVER, _class_regex, _esc_char

    tag = node[0]
    if tag == "empty":
        return _NEVER
    if tag == "eps":
        return "(?:)"
    if tag == "ranges":
        rs = node[1]
        if len(rs) == 1 and rs[0][0] == rs[0][1]:
            return _esc_char(rs[0][0])
        if rs == ((0, _MAX_CP),):
            return "."  # terms never contain newline (regexp.py note)
        return _class_regex(list(rs), False)
    if tag == "star":
        return "(?:" + _to_regex(node[1]) + ")*"
    if tag == "concat":
        return "".join("(?:" + _to_regex(c) + ")" for c in node[1])
    # union and (weakened) inter
    return "(?:" + "|".join(_to_regex(c) for c in node[1]) + ")"


def superset_regex(ast):
    """Full-match regex body matching every term the AST's language
    contains (possibly more, when intersections were weakened). Sound as
    a pre-filter; pair with ``RegexpMatcher`` for exactness."""
    return _to_regex(ast)

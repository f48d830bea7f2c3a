"""Lucene ``RegExp`` syntax -> RE2 regex translation.

The reference's RegexpQuery parses its own regular-expression syntax
(``core/util/automaton/RegExp.java:354``, the dk.brics grammar), which
differs from Java regex / RE2 in ways that silently change results if the
pattern is passed through verbatim:

  - ``\\d \\D \\s \\S \\w \\W`` exist but with the REFERENCE's ranges
    (``RegExp.expandPreDefined``: ``\\s = [\\t\\n\\r ]`` — Java's ``\\s``
    also matches ``\\x0B\\f``); any other ``\\<letter>`` is an ERROR in
    Lucene (``"invalid character class"``) where Java regex may assign it
    meaning (``\\b`` word boundary!).
  - ``<n-m>`` numeric interval (``Automata.makeDecimalInterval``): decimal
    strings with value in [n, m]; if n and m are written with the same
    number of digits the match is FIXED-WIDTH (zero-padded), otherwise any
    number of leading zeros is accepted; reversed bounds are swapped.
  - ``&`` is language intersection (``REGEXP_INTERSECTION``).
  - ``#`` is the empty language, ``@`` any string, ``"..."`` a literal
    string, ``()`` the empty string; ``^ $`` are ordinary characters
    (Lucene patterns are implicitly anchored, which the engine's
    ``^(?:...)$`` wrapping already provides).
  - ``~`` complement was REMOVED from the reference grammar
    (``RegExp.parseComplExp`` is a pass-through); ``~`` is an ordinary
    character and is treated as such here.
  - stacked quantifiers parse iteratively (``a*+`` = ``(a*)+``), where Java
    would read a possessive quantifier — the translator parenthesizes
    every quantifier operand, so the emitted pattern never contains ``*+``.

``translate_regexp(pattern)`` parses the full grammar (flags = RegExp.ALL,
the RegexpQuery default) and returns a CONJUNCTION of full-match regex
bodies — a list because top-level intersection maps to "term matches ALL
of these", which RE2 evaluates without lookahead (it has none). The engine
runs the bodies in one dialect, RE2: pyarrow's ``match_substring_regex``
in the RegexpQuery term rule (``search._term_rule``, on the driver and
inside Spark alike) and DuckDB's ``regexp_full_match`` in the oracle.
Intersection nested anywhere other than the top level has no
lookahead-free regex form and raises ``UnsupportedRegexpError`` with a
clear message; the term rule then takes the derivative automaton
(``query/automaton.py``) instead. ``<identifier>`` named automata raise,
matching the reference's behavior with no AutomatonProvider.

Emitted syntax is also valid Java regex — non-capturing groups,
``{n,m}``, alternation, and ``[\\x{hhhh}-...]`` classes built from explicit
code-point ranges (never raw user class text, so class-syntax dialect
differences cannot leak through) — because one caller outside term
expansion, the completion suggester (``operators/suggesters.py``
``suggest_regex``), matches a body with Spark ``rlike``. ``.`` is kept as
``.``: analyzer terms never contain a newline, the one character where the
dialects' ``.`` differ.
"""

from __future__ import annotations

_MAX_CP = 0x10FFFF

#: a class that matches NOTHING (for '#', the empty language) — valid and
#: empty in both dialects
_NEVER = "[^\\x{0}-\\x{10FFFF}]"


class UnsupportedRegexpError(ValueError):
    """Lucene RegExp feature with no Java/RE2 translation (nested
    intersection, named automata)."""


# predefined classes as (start, end) code-point range lists — EXACTLY
# RegExp.expandPreDefined
_PRE = {
    "d": [(0x30, 0x39)],
    "D": [(0, 0x2F), (0x3A, _MAX_CP)],
    "s": [(0x09, 0x0A), (0x0D, 0x0D), (0x20, 0x20)],
    "S": [(0, 0x08), (0x0B, 0x0C), (0x0E, 0x1F), (0x21, _MAX_CP)],
    "w": [(0x30, 0x39), (0x41, 0x5A), (0x5F, 0x5F), (0x61, 0x7A)],
    "W": [(0, 0x2F), (0x3A, 0x40), (0x5B, 0x5E), (0x60, 0x60),
          (0x7B, _MAX_CP)],
}

_LETTERS = set("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz")


def _esc_char(cp: int) -> str:
    """One literal code point, safely escaped for both dialects."""
    ch = chr(cp)
    if ch.isalnum() or cp > 0x7E:
        return ch
    return "\\" + ch if ch != " " else " "


def _class_regex(ranges: list[tuple[int, int]], negate: bool) -> str:
    parts = []
    for lo, hi in ranges:
        if lo == hi:
            parts.append(f"\\x{{{lo:X}}}")
        else:
            parts.append(f"\\x{{{lo:X}}}-\\x{{{hi:X}}}")
    return ("[^" if negate else "[") + "".join(parts) + "]"


def _digit_seg(prefix: str, lo_digits: str, hi_digits: str) -> list[str]:
    """Fixed-width alternatives covering prefix + [lo..hi] per position —
    the classic numeric-range-to-regex decomposition."""
    if not lo_digits:
        return [prefix]
    out = []
    lo0, hi0 = lo_digits[0], hi_digits[0]
    if lo0 == hi0:
        return _digit_seg(prefix + lo0, lo_digits[1:], hi_digits[1:])
    rest = len(lo_digits) - 1
    # lo0 with tail >= lo_tail
    out += _digit_seg(prefix + lo0, lo_digits[1:], "9" * rest)
    # middle full digits
    if ord(hi0) - ord(lo0) >= 2:
        mid = (f"[{chr(ord(lo0) + 1)}-{chr(ord(hi0) - 1)}]"
               if ord(hi0) - ord(lo0) > 2 else chr(ord(lo0) + 1))
        out.append(prefix + mid + ("[0-9]" * rest if rest else ""))
    # hi0 with tail <= hi_tail
    out += _digit_seg(prefix + hi0, "0" * rest, hi_digits[1:])
    return out


def _interval_regex(imin: int, imax: int, digits: int) -> str:
    """``Automata.makeDecimalInterval`` as a regex: fixed width when
    ``digits`` > 0 (equal-length bounds), else ``0*`` + any-width value."""
    if digits > 0:
        lo = str(imin).rjust(digits, "0")
        hi = str(imax).rjust(digits, "0")
        alts = _digit_seg("", lo, hi)
        return "(?:" + "|".join(alts) + ")"
    alts = []
    for width in range(len(str(imin)), len(str(imax)) + 1):
        lo_w = max(imin, 10 ** (width - 1) if width > 1 else 0)
        hi_w = min(imax, 10 ** width - 1)
        if lo_w > hi_w:
            continue
        alts += _digit_seg("", str(lo_w).rjust(width, "0"),
                           str(hi_w).rjust(width, "0"))
    return "0*(?:" + "|".join(alts) + ")"


class _Parser:
    def __init__(self, s: str):
        self.s = s
        self.pos = 0

    # --------------------------------------------------------- primitives
    def more(self) -> bool:
        return self.pos < len(self.s)

    def peek(self, chars: str) -> bool:
        return self.more() and self.s[self.pos] in chars

    def match(self, c: str) -> bool:
        if self.more() and self.s[self.pos] == c:
            self.pos += 1
            return True
        return False

    def next(self) -> str:
        if not self.more():
            raise ValueError("unexpected end-of-string")
        c = self.s[self.pos]
        self.pos += 1
        return c

    # ----------------------------------------------------------- grammar
    def parse_union(self, top: bool) -> list[str]:
        """Returns the conjunction list; only the TOP level may have more
        than one element (from intersections)."""
        first = self.parse_inter(top)
        if self.match("|"):
            rest = self.parse_union(top)
            if len(first) > 1 or len(rest) > 1:
                raise UnsupportedRegexpError(
                    "intersection under a union has no single-regex "
                    "translation; rewrite as (a&b) at the top level")
            return ["(?:" + first[0] + "|" + rest[0] + ")"]
        return first

    def parse_inter(self, top: bool) -> list[str]:
        first = self.parse_concat()
        if self.match("&"):
            if not top:
                raise UnsupportedRegexpError(
                    "nested intersection (&) is only supported at the top "
                    "level of the pattern (term must match every operand); "
                    "rewrite the query as top-level a&b or as a Boolean "
                    "FILTER of RegexpQueries")
            return [first] + self.parse_inter(top)
        return [first]

    def parse_concat(self) -> str:
        # the reference parses AT LEAST one repeatexp ("a|" / "" are
        # unexpected-end-of-string errors, not empty matches)
        out = [self.parse_repeat()]
        while self.more() and not self.peek("|&)"):
            out.append(self.parse_repeat())
        return "".join(out)

    def parse_repeat(self) -> str:
        e = self.parse_charclass()
        while self.peek("?*+{"):
            if self.match("?"):
                e = "(?:" + e + ")?"
            elif self.match("*"):
                e = "(?:" + e + ")*"
            elif self.match("+"):
                e = "(?:" + e + ")+"
            elif self.match("{"):
                start = self.pos
                while self.peek("0123456789"):
                    self.pos += 1
                if start == self.pos:
                    raise ValueError(
                        f"integer expected at position {self.pos}")
                n = int(self.s[start:self.pos])
                m = None
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
                quant = f"{{{n},}}" if m == -1 else f"{{{n},{m}}}"
                e = "(?:" + e + ")" + quant
        return e

    def parse_charclass(self) -> str:
        if self.match("["):
            negate = self.match("^")
            ranges = self.parse_class_body()
            if not self.match("]"):
                raise ValueError(f"expected ']' at position {self.pos}")
            return _class_regex(ranges, negate)
        return self.parse_simple()

    def parse_class_body(self) -> list[tuple[int, int]]:
        ranges: list[tuple[int, int]] = []
        while True:
            if self.match("\\"):
                if self.peek("\\" + "".join(sorted(_LETTERS))):
                    ranges += self.expand_predefined()
                else:
                    c = self.next()
                    ranges.append((ord(c), ord(c)))
            else:
                c = self.parse_char_exp()
                if self.match("-"):
                    d = self.parse_char_exp()
                    ranges.append((ord(c), ord(d)))
                else:
                    ranges.append((ord(c), ord(c)))
            if not (self.more() and not self.peek("]")):
                break
        return ranges

    def expand_predefined(self) -> list[tuple[int, int]]:
        if self.peek("\\"):
            self.next()
            return [(0x5C, 0x5C)]
        if self.more() and self.s[self.pos] in _PRE:
            return _PRE[self.next()]
        if self.more() and self.s[self.pos] in _LETTERS:
            raise ValueError(f"invalid character class \\{self.next()}")
        # unreachable via the peeks, defensive
        c = self.next()
        return [(ord(c), ord(c))]

    def parse_char_exp(self) -> str:
        self.match("\\")
        return self.next()

    def parse_simple(self) -> str:
        if self.match("."):
            return "."
        if self.match("#"):
            return _NEVER
        if self.match("@"):
            return "(?:.*)"
        if self.match('"'):
            start = self.pos
            while self.more() and not self.peek('"'):
                self.pos += 1
            if not self.match('"'):
                raise ValueError(f"expected '\"' at position {self.pos}")
            lit = self.s[start:self.pos - 1]
            return "".join(_esc_char(ord(c)) for c in lit)
        if self.match("("):
            if self.match(")"):
                return "(?:)"
            inner = self.parse_union(top=False)
            if not self.match(")"):
                raise ValueError(f"expected ')' at position {self.pos}")
            return "(?:" + inner[0] + ")"
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
            return _interval_regex(imin, imax, digits)
        # predefined class outside a character class
        if self.match("\\"):
            if self.peek("\\"):
                self.next()
                return "\\\\"
            if self.more() and self.s[self.pos] in _PRE:
                return _class_regex(_PRE[self.next()], False)
            if self.more() and self.s[self.pos] in _LETTERS:
                raise ValueError(
                    f"invalid character class \\{self.next()}")
            return _esc_char(ord(self.next()))
        # any other character — INCLUDING '*+?{}]' in operand-first
        # position — is a literal, exactly like the reference's
        # parseCharExp fall-through (")|&" never reach here: parse_concat
        # stops on them)
        return _esc_char(ord(self.next()))


def translate_regexp(pattern: str) -> list[str]:
    """Lucene RegExp -> list of full-match RE2 regex bodies (valid Java
    regex too) whose CONJUNCTION is the pattern's language. Raises
    ``UnsupportedRegexpError`` for nested intersection / named automata,
    plain ``ValueError`` for syntax errors (same cases the reference
    rejects)."""
    p = _Parser(pattern)
    out = p.parse_union(top=True)
    if p.more():
        raise ValueError(f"end-of-string expected at position {p.pos}")
    return out

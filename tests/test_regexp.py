"""Lucene RegExp syntax translation (query/regexp.py): semantics pinned
against the reference grammar (RegExp.java), evaluated by every engine
that runs the translation — RE2 in DuckDB (regexp_full_match, the
oracle) and in pyarrow (the engine's term rule), and Java regex via Spark
rlike (the completion suggester) — which must agree case by case."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from lucene_spark.query.regexp import (
    UnsupportedRegexpError, translate_regexp,
)

#: (lucene_pattern, probe_string, should_match) — semantics per
#: core/util/automaton/RegExp.java + Automata.makeDecimalInterval
CASES = [
    ("s.an|m[ae]rge", "scan", True), ("s.an|m[ae]rge", "merge", True),
    ("s.an|m[ae]rge", "sort", False),
    # top-level intersection = AND of operands
    ("s.an&.*n", "scan", True), ("s.an&.*m", "scan", False),
    ("[a-z]+&.*e&m.*", "merge", True), ("[a-z]+&.*e&m.*", "scan", False),
    # <n-m> differing digit counts: any number of leading zeros
    ("<5-20>", "5", True), ("<5-20>", "05", True), ("<5-20>", "0005", True),
    ("<5-20>", "20", True), ("<5-20>", "21", False), ("<5-20>", "4", False),
    ("<5-20>", "015", True), ("<5-20>", "150", False),
    # <n-m> equal digit counts: fixed width, zero-padded
    ("<07-13>", "07", True), ("<07-13>", "7", False),
    ("<07-13>", "13", True), ("<07-13>", "013", False),
    ("<07-13>", "10", True), ("<07-13>", "14", False),
    ("<20-5>", "7", True),  # reversed bounds swap (parser behavior)
    # predefined classes with the REFERENCE's ranges
    ("\\d+", "123", True), ("\\d+", "a1", False),
    ("\\w+", "ab_9", True), ("\\w+", "a-b", False),
    ("a\\sb", "a b", True), ("a\\Sb", "axb", True), ("a\\Sb", "a b", False),
    # escapes and quoted literals
    ("a\\.b", "a.b", True), ("a\\.b", "axb", False),
    ('"a.b"c', "a.bc", True), ('"a.b"c', "axbc", False),
    # '()' empty string, '#' empty language, '@' anystring
    ("()", "", True), ("()", "a", False),
    ("a#b", "ab", False), ("a#b", "a#b", False),
    ("ab@", "abcdef", True), ("ab@", "xbcdef", False),
    # stacked quantifiers are ITERATIVE (a*+ = (a*)+), never possessive
    ("a*+", "aaa", True), ("a*+", "", True),
    ("(ab){2}", "abab", True), ("(ab){2}", "ab", False),
    ("a{2,}", "a", False), ("a{1,2}b", "aaab", False),
    # '~' complement was removed from the reference grammar: literal char
    ("a~b", "a~b", True), ("a~b", "ab", False),
    # '^'/'$' are ordinary characters (patterns are implicitly anchored)
    ("a^b", "a^b", True), ("a$b", "a$b", True),
    ("[^a-c]x", "dx", True), ("[^a-c]x", "ax", False),
    ("[\\]x]+", "]x]", True),
    ("[\\d]+", "42", True), ("[\\d]+", "a", False),
]


def test_translation_semantics_re2():
    """The table through both RE2 engines: DuckDB's regexp_full_match on
    the translated bodies (the oracle) and pyarrow's
    ``match_substring_regex`` in the engine's term rule."""
    import pyarrow as pa

    from lucene_spark.query.ast import RegexpQuery
    from lucene_spark.query.search import _term_rule

    con = duckdb.connect()
    for pat, s, exp in CASES:
        pats = translate_regexp(pat)
        got = all(
            con.execute("SELECT regexp_full_match(?, ?)", [s, p]).fetchone()[0]
            for p in pats)
        assert got == exp, (pat, s, pats)
        batch = pa.record_batch({"term": pa.array([s], pa.string())})
        got = [t for b in _term_rule(RegexpQuery(pat)).select([batch])
               for t in b.column("term").to_pylist()]
        assert got == ([s] if exp else []), (pat, s, pats)


def test_translation_semantics_java_via_spark(spark):
    """Same table through Spark rlike (Java regex) — both dialects must
    agree, or an entry would hash-mismatch its oracle."""
    from pyspark.sql import functions as F

    pdf = pd.DataFrame([
        {"i": i, "pat": pat, "s": s, "exp": exp}
        for i, (pat, s, exp) in enumerate(CASES)
    ])
    df = spark.createDataFrame(pdf[["i", "s"]])
    got = {}
    for i, (pat, s, exp) in enumerate(CASES):
        pats = translate_regexp(pat)
        cond = F.lit(True)
        for p in pats:
            cond = cond & F.col("s").rlike("^(?:" + p + ")$")
        got[i] = cond
    res = df.select(
        "i", *[F.when(F.col("i") == i, c).alias(f"m{i}") for i, c in got.items()]
    ).collect()
    for r in res:
        i = r["i"]
        exp = CASES[i][2]
        assert r[f"m{i}"] == exp, CASES[i]


def test_rejections_and_errors():
    with pytest.raises(UnsupportedRegexpError):
        translate_regexp("(a&b)c")      # nested intersection
    with pytest.raises(UnsupportedRegexpError):
        translate_regexp("a|(b&c)")     # intersection under union
    with pytest.raises(UnsupportedRegexpError):
        translate_regexp("<myautomaton>")  # named automaton, no provider
    with pytest.raises(ValueError):
        translate_regexp("\\b")         # invalid escape (reference throws)
    with pytest.raises(ValueError):
        translate_regexp("a{2,1}")      # out-of-order repetition
    with pytest.raises(ValueError):
        translate_regexp("(ab")         # unbalanced paren
    with pytest.raises(ValueError):
        translate_regexp("<1-2-3>")     # interval syntax error
    assert translate_regexp("a&b&c") == ["a", "b", "c"]


def test_regexp_query_end_to_end(spark, built_index):
    """RegexpQuery with intersection + interval syntax through the engine."""
    from lucene_spark.query.ast import RegexpQuery
    from lucene_spark.query.search import IndexSearcher

    s = IndexSearcher(spark, built_index)
    # every term matching both operands: 4-6 letter terms containing 'e'
    hits = s.search(RegexpQuery("[a-z]{4,6}&.*e.*"), 10)
    assert hits.count() > 0
    # spot-check: the expansion respects BOTH constraints
    exp = s.term_dict.filter(
        (s.term_dict.term.rlike("^(?:[a-z]{4,6})$"))
        & (s.term_dict.term.rlike("^(?:.*e.*)$"))).count()
    only_first = s.term_dict.filter(
        s.term_dict.term.rlike("^(?:[a-z]{4,6})$")).count()
    assert 0 < exp < only_first

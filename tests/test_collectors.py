"""Facets, grouping, sort-by-field, explain, highlighting."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from lucene_spark.query.ast import BooleanQuery, TermQuery
from lucene_spark.query.search import IndexSearcher


@pytest.fixture(scope="module")
def searcher(spark, built_index):
    return IndexSearcher(spark, built_index)


@pytest.fixture(scope="module")
def term(searcher):
    return searcher.term_dict.orderBy(F.desc("doc_freq")).limit(1).collect()[0]["term"]


def test_facet_counts(searcher, term):
    hits = {r["doc_id"] for r in searcher.search(TermQuery(term), 100000).collect()}
    roles = {r["doc_id"]: r["role"]
             for r in searcher.docmap().select("doc_id", "role").collect()}
    expect: dict[str, int] = {}
    for d in hits:
        expect[roles[d]] = expect.get(roles[d], 0) + 1
    got = {r["value"]: r["count"] for r in searcher.facet_counts(TermQuery(term), "role").collect()}
    assert got == expect


def test_search_grouped(searcher, term):
    rows = searcher.search_grouped(TermQuery(term), "role", k_per_group=2).collect()
    per_group: dict[str, list] = {}
    for r in rows:
        per_group.setdefault(r["value"], []).append((r["rank"], r["doc_id"], r["score"]))
    full = [(r["doc_id"], np.float32(r["score"]))
            for r in searcher.search(TermQuery(term), 100000).collect()]
    roles = {r["doc_id"]: r["role"]
             for r in searcher.docmap().select("doc_id", "role").collect()}
    for role, members in per_group.items():
        assert [m[0] for m in members] == list(range(1, len(members) + 1))
        expect = [d for d, _ in full if roles[d] == role][:2]
        assert [m[1] for m in members] == expect


def test_search_sorted(searcher, term):
    rows = searcher.search_sorted(TermQuery(term), "turn_idx", 10).collect()
    keys = [(r["turn_idx"], r["doc_id"]) for r in rows]
    assert keys == sorted(keys)
    # the doc set is still the query's matches
    all_hits = {r["doc_id"] for r in searcher.search(TermQuery(term), 100000).collect()}
    assert {r["doc_id"] for r in rows} <= all_hits


def test_explain_recomputes_search_scores(searcher, term):
    other = searcher.term_dict.orderBy(F.desc("doc_freq")).limit(2).collect()[1]["term"]
    q = BooleanQuery(must=[TermQuery(term)], should=[TermQuery(other)])
    top = searcher.search(q, 5).collect()
    assert top
    for r in top:
        ex = searcher.explain(q, int(r["doc_id"]))
        assert ex["match"]
        assert np.float32(ex["value"]) == np.float32(r["score"])
    # non-matching doc
    missing = searcher.doc_count + 1000
    assert searcher.explain(q, missing)["match"] is False


@pytest.mark.parametrize("msm", [0, 1])
def test_explain_value_equals_score_mixed_must_should(searcher, msm):
    """explain() combines clause scores with search()'s kernel: the MUST
    and SHOULD sides are cast separately (``ReqOptSumScorer``), so its
    value equals the score on mixed shapes, not one double sum cast."""
    c = [r["term"] for r in searcher.term_dict.orderBy(
        F.desc("doc_freq"), F.asc("term")).limit(6).collect()]
    for q in (
        BooleanQuery(must=[TermQuery(c[0]), TermQuery(c[1])],
                     should=[TermQuery(c[2])], min_should_match=msm),
        BooleanQuery(must=[TermQuery(c[3])],
                     should=[TermQuery(c[4]), TermQuery(c[5])],
                     min_should_match=msm),
    ):
        top = searcher.search(q, 40).collect()
        assert len(top) == 40
        for r in top:
            ex = searcher.explain(q, int(r["doc_id"]))
            assert ex["match"], (q, r)
            assert np.float32(ex["value"]) == np.float32(r["score"]), (q, r)


def test_highlight(spark, searcher, small_corpus, term):
    from lucene_spark.operators.highlight import highlight_hits

    hits = searcher.search(TermQuery(term), 5)
    source = spark.createDataFrame(small_corpus)
    out = highlight_hits(searcher, hits, source, [term]).collect()
    assert len(out) == min(5, hits.count())
    assert any(f"<em>" in r["snippet"] for r in out)
    for r in out:
        if "<em>" in r["snippet"]:
            inner = r["snippet"].split("<em>")[1].split("</em>")[0].lower()
            assert inner == term


def test_search_sorted_multi_field(searcher, term):
    """Sort(SortField...) chain: (turn_idx asc, score desc), doc asc ties."""
    from pyspark.sql import functions as F

    rows = searcher.search_sorted(
        TermQuery(term), [("turn_idx", True), ("score", False)], 15
    ).collect()
    assert rows
    got = [(r["turn_idx"], np.float32(r["score"]), r["doc_id"]) for r in rows]
    # manual reconstruction from the full match set
    full = searcher._live(searcher._execute(TermQuery(term), np.float32(1.0)))
    dm = searcher.docmap().select("doc_id", "turn_idx")
    allr = [(r["turn_idx"], np.float32(r["score"]), r["doc_id"])
            for r in full.join(dm, "doc_id").collect()]
    want = sorted(allr, key=lambda x: (x[0], -x[1], x[2]))[:15]
    assert got == want


def test_facet_taxonomy_drilldown(searcher, term):
    """Taxonomy drill-down: top level == facet over the level-0 value;
    drilling in restricts to that subtree and counts the next level;
    drilldown deeper than the taxonomy raises."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from lucene_spark.query.ast import TermQuery

    levels = [F.expr("field_len div 8"), F.col("field_len")]
    top = {r["value"]: r["count"] for r in searcher.facet_taxonomy(
        TermQuery(term), levels).collect()}
    assert top and sum(top.values()) == searcher.count(TermQuery(term))
    v0 = max(top, key=top.get)
    sub = {r["value"]: r["count"] for r in searcher.facet_taxonomy(
        TermQuery(term), levels, drilldown=(v0,)).collect()}
    assert sub and sum(sub.values()) == top[v0]
    # every leaf under v0 actually belongs to the subtree
    assert all(int(fl) // 8 == int(v0) for fl in sub)
    with _pytest.raises(ValueError, match="deeper"):
        searcher.facet_taxonomy(TermQuery(term), levels, drilldown=("1", "2"))

"""Block-max pruning (rank identity vs exhaustive), count, searchAfter,
FuzzyQuery expansion."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from lucene_spark.query.ast import (
    BooleanQuery,
    FuzzyQuery,
    MatchAllDocsQuery,
    TermQuery,
)
from lucene_spark.query.search import IndexSearcher


@pytest.fixture(scope="module")
def searcher(spark, built_index):
    return IndexSearcher(spark, built_index)


@pytest.fixture(scope="module")
def common_terms(searcher):
    rows = (
        searcher.term_dict.orderBy(F.desc("doc_freq"), F.asc("term"))
        .limit(8)
        .collect()
    )
    return [(r["term"], int(r["doc_freq"])) for r in rows]


def test_filter_only_scores_zero(searcher, oracle_index, common_terms):
    """Regression (extended randomized fuzz): a Boolean query with ONLY
    filter/must_not clauses has no scoring clause — the reference's
    BooleanWeight emits constant 0.0f. The engine summed zero scoring rows
    to NULL and surfaced NaN. Single filter (no-groupBy guard) and
    filter+must_not shapes, both vs the scalar oracle."""
    t0, t1 = common_terms[0][0], common_terms[1][0]
    for q in (
        BooleanQuery(filter=[TermQuery(t0)]),
        BooleanQuery(filter=[TermQuery(t0)], must_not=[TermQuery(t1)]),
        BooleanQuery(filter=[TermQuery(t0), TermQuery(t1)]),
    ):
        got = [(r["doc_id"], np.float32(r["score"]))
               for r in searcher.search(q, 25).collect()]
        expect = [(d, np.float32(s)) for d, s in oracle_index.search(q, 25)]
        assert got == expect, q
        assert all(s == np.float32(0.0) for _, s in got)
        many = searcher.search_many({"q": q}, 25).collect()
        assert [(r["doc_id"], np.float32(r["score"])) for r in many] == expect


def test_pruned_equals_exhaustive(searcher, common_terms):
    for term, _df in common_terms[:4]:
        for k in (1, 5, 20):
            exact = [
                (r["doc_id"], np.float32(r["score"]))
                for r in searcher.search(TermQuery(term), k).collect()
            ]
            pruned = [
                (r["doc_id"], np.float32(r["score"]))
                for r in searcher.search_term_pruned(term, k).collect()
            ]
            assert pruned == exact, (term, k)


def test_pruned_absent_term(searcher):
    assert searcher.search_term_pruned("zz-not-a-term", 5).count() == 0


def test_count(searcher, common_terms):
    term, df = common_terms[0]
    assert searcher.count(TermQuery(term)) == df
    assert searcher.count(MatchAllDocsQuery()) == searcher.doc_count
    assert searcher.count(TermQuery("zz-not-a-term")) == 0
    t2 = common_terms[1][0]
    n = searcher.count(BooleanQuery(must=[TermQuery(term), TermQuery(t2)]))
    # conjunction count == exhaustive matches
    full = searcher.search(
        BooleanQuery(must=[TermQuery(term), TermQuery(t2)]), searcher.doc_count
    ).count()
    assert n == full


def test_search_after_paginates(searcher, common_terms):
    term = common_terms[0][0]
    full = [
        (r["doc_id"], np.float32(r["score"]))
        for r in searcher.search(TermQuery(term), 30).collect()
    ]
    assert len(full) >= 10
    page1 = full[:10]
    after = (float(page1[-1][1]), int(page1[-1][0]))
    page2 = [
        (r["doc_id"], np.float32(r["score"]))
        for r in searcher.search_after(TermQuery(term), 10, after).collect()
    ]
    assert page2 == full[10:20]


def test_field_filter_queries(searcher, common_terms):
    from lucene_spark.query.ast import FieldEqualsQuery, FieldRangeQuery

    term = common_terms[0][0]
    all_hits = {r["doc_id"]: r["score"]
                for r in searcher.search(TermQuery(term), 100000).collect()}
    dm = searcher.docmap().select("doc_id", "role").collect()
    role_of = {r["doc_id"]: r["role"] for r in dm}

    q = BooleanQuery(must=[TermQuery(term)],
                     filter=[FieldEqualsQuery("role", "user")])
    got = {r["doc_id"]: r["score"] for r in searcher.search(q, 100000).collect()}
    expect = {d: s for d, s in all_hits.items() if role_of[d] == "user"}
    assert got == expect  # FILTER never changes scores, only the doc set

    # existence: tool IS NOT NULL
    q2 = BooleanQuery(must=[TermQuery(term)],
                      filter=[FieldEqualsQuery("tool")])
    n2 = searcher.search(q2, 100000).count()
    tool_of = {r["doc_id"]: r["tool"]
               for r in searcher.docmap().select("doc_id", "tool").collect()}
    assert n2 == sum(1 for d in all_hits if tool_of[d] is not None)

    # range on turn_idx
    q3 = BooleanQuery(must=[TermQuery(term)],
                      filter=[FieldRangeQuery("turn_idx", 0, 3)])
    got3 = {r["doc_id"] for r in searcher.search(q3, 100000).collect()}
    ti = {r["doc_id"]: r["turn_idx"]
          for r in searcher.docmap().select("doc_id", "turn_idx").collect()}
    assert got3 == {d for d in all_hits if 0 <= ti[d] <= 3}


def test_fuzzy_expansion(searcher, common_terms):
    term = common_terms[0][0]
    # exact term always matches itself at boost 1 -> same docs as TermQuery
    exact_docs = {r["doc_id"] for r in searcher.search(TermQuery(term), 10000).collect()}
    fuzzy_docs = {
        r["doc_id"]
        for r in searcher.search(FuzzyQuery(term, max_edits=1), 100000).collect()
    }
    assert exact_docs <= fuzzy_docs
    # absent, far-away term
    assert searcher.search(FuzzyQuery("qqqqqqqqqqqq", max_edits=1), 10).count() == 0
    # expansion respects the edit bound: every matched doc contains a term
    # within distance 1 (validated on the expansion itself)
    q = searcher._expand_fuzzy(FuzzyQuery(term, max_edits=1))
    from lucene_spark.query.ast import BoostQuery

    def leaf_terms(node):
        if isinstance(node, TermQuery):
            return [node.term]
        if isinstance(node, BoostQuery):
            return leaf_terms(node.query)
        if isinstance(node, BooleanQuery):
            out = []
            for c in node.should:
                out += leaf_terms(c)
            return out
        return []

    def edits(a, b):
        import itertools
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[-1]

    for t in leaf_terms(q):
        assert edits(t, term) <= 1, t


# ------------------------------------------------ join-based expansion path

@pytest.fixture(scope="module")
def spark_route(spark, built_index):
    """A searcher whose small queries take the Spark route too: bare
    multi-term queries run the expansion join, whatever their size."""
    s = IndexSearcher(spark, built_index)
    s.LOCAL_POSTINGS_MAX = 0
    return s


def test_join_expansion_equals_boolean_rewrite(searcher, common_terms):
    """search() runs small bare Prefix/TermRange/TermInSet queries as
    their dictionary expansion on the driver and the rest through the
    postings-join path; both must be result-identical (ids AND float32
    scores) to the SHOULD-of-TermQueries rewrite executed via
    _expand_multi_term."""
    _check_join_expansion(searcher, common_terms)


def test_join_expansion_equals_boolean_rewrite_spark_route(spark_route,
                                                           common_terms):
    _check_join_expansion(spark_route, common_terms)


def _check_join_expansion(searcher, common_terms):
    from lucene_spark.query.ast import (
        PrefixQuery, TermInSetQuery, TermRangeQuery, WildcardQuery,
        rewrite_fixpoint,
    )

    prefix = common_terms[0][0][:2]
    queries = [
        PrefixQuery(prefix),
        TermRangeQuery(common_terms[0][0], common_terms[1][0]
                       if common_terms[1][0] > common_terms[0][0]
                       else common_terms[0][0] + "zzz"),
        TermInSetQuery(tuple(t for t, _ in common_terms[:3])),
        WildcardQuery(common_terms[0][0][:1] + "*"),
    ]
    for q in queries:
        join_hits = [
            (r["doc_id"], np.float32(r["score"]))
            for r in searcher.search(q, 25).collect()
        ]
        expanded = rewrite_fixpoint(searcher._expand_multi_term(q))
        scored = searcher._execute(expanded, np.float32(1.0))
        exp_hits = [
            (r["doc_id"], np.float32(r["score"]))
            for r in scored.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(25).collect()
        ]
        assert join_hits == exp_hits, q


def test_too_many_clauses_guard(searcher):
    """A >cap expansion through the clause-materializing rewrite raises the
    TooManyClauses analog; the join path stays unbounded."""
    _check_too_many_clauses(searcher)


def test_too_many_clauses_guard_spark_route(spark_route):
    _check_too_many_clauses(spark_route)


def _check_too_many_clauses(searcher):
    from lucene_spark.query.ast import PrefixQuery
    from lucene_spark.query.search import TooManyClauses

    old = searcher.max_clause_count
    searcher.max_clause_count = 2
    try:
        with pytest.raises(TooManyClauses):
            searcher._expand_multi_term(PrefixQuery(""))  # matches everything
        # join-based search() is uncapped and still answers
        assert searcher.search(PrefixQuery(""), 5).count() == 5
    finally:
        searcher.max_clause_count = old


def test_join_expansion_empty_match(searcher):
    from lucene_spark.query.ast import PrefixQuery

    assert searcher.search(PrefixQuery("zzzz-not-a-prefix"), 5).count() == 0


def test_join_expansion_empty_match_spark_route(spark_route):
    """An empty expansion holds no postings, so even the bound-0 searcher
    answers it on the driver; the join path itself is run directly."""
    from lucene_spark.query.ast import PrefixQuery

    q = PrefixQuery("zzzz-not-a-prefix")
    assert spark_route.search(q, 5).count() == 0
    join = spark_route._scored_expansion_join(
        *spark_route._bare_multi_term(q))
    assert spark_route._live(join).count() == 0


# -------------------------------------------------- boolean block-max pruning

def test_boolean_pruned_rank_identity(searcher, common_terms):
    """search_pruned must be rank- AND score-identical to the exhaustive
    path for conjunctions, disjunctions, msm, boosts, and must_not."""
    from lucene_spark.query.ast import BoostQuery

    t0, t1, t2 = (common_terms[i][0] for i in range(3))
    rare = common_terms[-1][0]
    queries = [
        BooleanQuery(must=[TermQuery(t0), TermQuery(t1)]),                # hot∧hot
        BooleanQuery(should=[TermQuery(t0), TermQuery(t1), TermQuery(t2)]),
        BooleanQuery(should=[TermQuery(t0), TermQuery(t1), TermQuery(rare)],
                     min_should_match=2),
        BooleanQuery(must=[BoostQuery(TermQuery(t0), 2.0)],
                     should=[TermQuery(rare)]),
        BooleanQuery(must=[TermQuery(t0)], must_not=[TermQuery(rare)]),
        BooleanQuery(must=[TermQuery(t0)], filter=[TermQuery(t1)]),
    ]
    for q in queries:
        for k in (3, 10):
            exact = [
                (r["doc_id"], np.float32(r["score"]))
                for r in searcher.search(q, k).collect()
            ]
            pruned = [
                (r["doc_id"], np.float32(r["score"]))
                for r in searcher.search_pruned(q, k, probe_blocks=2).collect()
            ]
            assert pruned == exact, (q, k)


def test_pruned_fallback_small_result(searcher, common_terms):
    """Fewer matches than k -> exhaustive fallback returns everything."""
    rare = common_terms[-1][0]
    q = BooleanQuery(must=[TermQuery(rare), TermQuery(common_terms[0][0])])
    exact = [(r["doc_id"], np.float32(r["score"]))
             for r in searcher.search(q, 500).collect()]
    pruned = [(r["doc_id"], np.float32(r["score"]))
              for r in searcher.search_pruned(q, 500).collect()]
    assert pruned == exact


# ------------------------------------------------ count fast path + k1/b

def test_match_count_equals_scored_count(searcher, common_terms,
                                        oracle_index):
    """count() of every flat Boolean shape equals the scored plan's match
    count and the scalar oracle's."""
    _check_match_counts(searcher, common_terms, oracle_index)


def test_match_count_equals_scored_count_spark_route(
        spark, built_index, common_terms, oracle_index):
    s = IndexSearcher(spark, built_index)
    s.LOCAL_POSTINGS_MAX = 0
    _check_match_counts(s, common_terms, oracle_index)


def _check_match_counts(searcher, common_terms, oracle_index):
    t0, t1 = common_terms[0][0], common_terms[1][0]
    rare = common_terms[-1][0]
    shapes = [
        BooleanQuery(must=[TermQuery(t0), TermQuery(t1)]),
        BooleanQuery(should=[TermQuery(t0), TermQuery(rare)],
                     min_should_match=1),
        BooleanQuery(should=[TermQuery(t0), TermQuery(t1), TermQuery(rare)],
                     min_should_match=2),
        BooleanQuery(must=[TermQuery(t0)], must_not=[TermQuery(t1)]),
        BooleanQuery(must=[TermQuery(t0)], filter=[TermQuery(rare)]),
        BooleanQuery(must=[TermQuery(t0), TermQuery("zz-absent")]),
    ]
    for q in shapes:
        scored = searcher._execute(q, np.float32(1.0))
        expect = 0 if scored is None else scored.count()
        assert searcher.count(q) == expect, q
        assert len(oracle_index.search(q, 10**9)) == expect, q


# ------------------------------------------------ nested Booleans

def test_nested_msm_unmet_when_should_children_match_nothing(searcher,
                                                             common_terms):
    """Regression: SHOULD children that execute to no result (phrases over
    an absent term) still count toward min_should_match — the reference's
    BooleanWeight has no scorer when fewer SHOULD scorers exist than msm.
    The join-based nested executor dropped them and returned the MUST
    side's hits."""
    _check_nested_msm_unmet(searcher, common_terms)


def test_nested_msm_unmet_when_should_children_match_nothing_spark_route(
        spark_route, common_terms):
    _check_nested_msm_unmet(spark_route, common_terms)


def _check_nested_msm_unmet(searcher, common_terms):
    from lucene_spark.query.ast import PhraseQuery

    c0, c1, c2 = (t for t, _ in common_terms[:3])
    q = BooleanQuery(
        must=[TermQuery(c0),
              BooleanQuery(should=[TermQuery(c1), TermQuery(c2)])],
        should=[PhraseQuery(("zz-absent-a", c1)),
                PhraseQuery(("zz-absent-b", c2))],
        min_should_match=1)
    assert searcher.search(q, 10).collect() == []
    assert searcher.count(q) == 0


def test_nested_boolean_scans_postings_once_per_level(searcher, common_terms):
    """A nested Boolean runs one postings scan per Boolean level, its term
    leaves scored together, not one scan per term leaf."""
    import re

    t = [TermQuery(term) for term, _ in common_terms[:4]]
    q = BooleanQuery(must=t[:2], should=[BooleanQuery(must=t[2:])])
    plan = searcher.search(q, 10)._jdf.queryExecution().executedPlan()
    scans = re.findall(r"FileScan parquet .*?Location: [^\n]*/postings\]",
                       plan.toString())
    assert len(scans) == 2, plan.toString()


def test_custom_similarity_k1_b(spark, built_index, searcher, common_terms):
    """k1/b change the norm cache exactly like BM25Similarity(k1, b);
    scores must differ from the defaults and reproduce the formula."""
    from lucene_spark.functions import bm25
    from lucene_spark.query.search import IndexSearcher

    t = common_terms[0][0]
    s2 = IndexSearcher(spark, built_index, k1=0.9, b=0.4)
    default_hits = {r["doc_id"]: np.float32(r["score"])
                    for r in searcher.search(TermQuery(t), 5).collect()}
    custom_hits = {r["doc_id"]: np.float32(r["score"])
                   for r in s2.search(TermQuery(t), 5).collect()}
    assert default_hits != custom_hits
    # recompute one custom score from first principles
    doc = next(iter(custom_hits))
    stats = s2.term_stats([t])
    w = bm25.weight(1.0, bm25.idf(stats[t][0], s2.doc_count))
    row = s2.docmap().filter(F.col("doc_id") == doc).select("norm_byte").first()
    freq_row = s2.term_postings(t).filter(F.col("doc_id") == doc).first()
    cache = bm25.norm_inverse_cache(s2.avgdl, np.float32(0.9), np.float32(0.4))
    expect = bm25.score(np.array([freq_row["freq"]]),
                        np.array([row["norm_byte"]]), w, cache)[0]
    assert custom_hits[doc] == np.float32(expect)


def test_combined_field_degenerates_to_bm25(spark, built_index, searcher,
                                            common_terms):
    """BM25F over ONE field with weight 1.0 must equal the plain BM25
    SHOULD-of-terms disjunction over that field (same stats, same freqs,
    same norms) — pinning the combined arithmetic to the scored path."""
    from lucene_spark.query.combined import combined_field_search

    terms = [common_terms[0][0], common_terms[2][0]]
    plain = [
        (r["doc_id"], np.float32(r["score"]))
        for r in searcher.search(
            BooleanQuery(should=[TermQuery(t) for t in terms],
                         min_should_match=1), 15
        ).collect()
    ]
    combined = [
        (r["doc_id"], np.float32(r["score"]))
        for r in combined_field_search(
            spark, {"text": (searcher, 1.0)}, terms, 15
        ).collect()
    ]
    assert combined == plain


def test_docid_driven_conjunction_pruning(searcher, common_terms):
    """A rare required clause triggers the docID-driven block-skip path;
    results must be rank- and score-identical, for must and filter."""
    hot = common_terms[0][0]
    rare = common_terms[-1][0]
    shapes = [
        BooleanQuery(must=[TermQuery(hot), TermQuery(rare)]),
        BooleanQuery(must=[TermQuery(hot)], filter=[TermQuery(rare)]),
        BooleanQuery(must=[TermQuery(hot), TermQuery(rare)],
                     should=[TermQuery(common_terms[1][0])]),
        BooleanQuery(must=[TermQuery(hot), TermQuery(rare)],
                     must_not=[TermQuery(common_terms[2][0])]),
    ]
    for q in shapes:
        exact = [(r["doc_id"], np.float32(r["score"]))
                 for r in searcher.search(q, 20).collect()]
        pruned = [(r["doc_id"], np.float32(r["score"]))
                  for r in searcher.search_pruned(q, 20).collect()]
        assert pruned == exact, q


def test_parent_block_join_modes(searcher, common_terms):
    """search_parents: ScoreMode.Max equals per-parent max of child scores;
    total equals f32(double sum); avg consistent with total/count."""
    from collections import defaultdict

    t = common_terms[0][0]
    child = searcher._execute(TermQuery(t), np.float32(1.0))
    dm = searcher.docmap().select("doc_id", "conv_id")
    rows = child.join(dm, "doc_id").collect()
    by_parent = defaultdict(list)
    for r in rows:
        by_parent[r["conv_id"]].append(np.float32(r["score"]))
    def top(mode):
        return [(r["conv_id"], np.float32(r["score"]))
                for r in searcher.search_parents(TermQuery(t), 8, mode).collect()]
    exp_max = sorted(
        ((c, max(v)) for c, v in by_parent.items()),
        key=lambda x: (-x[1], x[0]))[:8]
    assert top("max") == [(c, np.float32(s)) for c, s in exp_max]
    exp_tot = sorted(
        ((c, np.float32(sum(np.float64(x) for x in v)))
         for c, v in by_parent.items()),
        key=lambda x: (-x[1], x[0]))[:8]
    assert top("total") == [(c, np.float32(s)) for c, s in exp_tot]
    assert len(top("avg")) == min(8, len(by_parent))


def test_predicate_pushdown_reaches_parquet(spark, built_index, searcher,
                                            common_terms):
    """Plans must push term predicates into the parquet scan (PushedFilters)
    — the 100TB property that a query reads row groups, not the table.
    Term, flat-Boolean and bare prefix plans are checked on the Spark
    route (instance bound 0); below the bound those queries never reach
    Spark."""
    import re

    from lucene_spark.query.ast import PrefixQuery

    def pushed(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))

    spark_route = IndexSearcher(spark, built_index)
    spark_route.LOCAL_POSTINGS_MAX = 0
    t = common_terms[0][0]
    assert f"EqualTo(term,{t})" in pushed(spark_route.search(TermQuery(t), 3))
    # a prefix reaches parquet as its term range [prefix, next prefix)
    prefix_plan = pushed(spark_route.search(PrefixQuery(t[:2]), 3))
    assert f"GreaterThanOrEqual(term,{t[:2]})" in prefix_plan
    assert f"LessThan(term,{t[0]}{chr(ord(t[1]) + 1)})" in prefix_plan
    t2 = common_terms[1][0]
    q = BooleanQuery(must=[TermQuery(t), TermQuery(t2)])
    assert "In(term" in pushed(spark_route.search(q, 3))
    # interval queries share the phrase plan's positions scan: the leaf
    # terms must reach the positions parquet as an In/EqualTo filter
    from lucene_spark.query.intervals import maxgaps, ordered

    iplan = pushed(searcher.search_intervals(maxgaps(2, ordered(t, t2)), 3))
    assert "In(term" in iplan or f"EqualTo(term,{t})" in iplan


def test_local_read_returns_only_the_query_blocks(searcher, common_terms):
    """The driver-local route's pyarrow read returns exactly the query's
    blocks: Σ num_blocks rows over its terms, absent terms adding none."""
    from lucene_spark.query import local

    terms = [common_terms[0][0], common_terms[-1][0], "zzzz-absent"]
    rows = searcher._term_dict_rows(terms)
    blocks = local.read_blocks(searcher.index_dir, terms, searcher.buckets,
                               searcher.max_segment_id)
    assert blocks.num_rows == sum(nb for _, _, nb in rows.values())
    assert set(blocks.column("term").to_pylist()) == set(rows)
    assert blocks.column_names == ["term", "num_docs", "first_doc", "data"]


def test_search_many_equals_individual(searcher, common_terms):
    """One-scan batched execution must be bit-identical to per-query
    search() for every query in the workload."""
    from lucene_spark.query.ast import BoostQuery

    t0, t1, t2 = (common_terms[i][0] for i in range(3))
    rare = common_terms[-1][0]
    workload = {
        "q_term": TermQuery(t0),
        "q_conj": BooleanQuery(must=[TermQuery(t0), TermQuery(t1)]),
        "q_msm": BooleanQuery(should=[TermQuery(t0), TermQuery(t1), TermQuery(rare)],
                              min_should_match=2),
        "q_not": BooleanQuery(must=[TermQuery(t1)], must_not=[TermQuery(rare)]),
        "q_boost": BooleanQuery(must=[BoostQuery(TermQuery(t2), 2.0)],
                                should=[TermQuery(rare)]),
        "q_filter": BooleanQuery(must=[TermQuery(t0)], filter=[TermQuery(t1)]),
    }
    batched = {}
    for r in searcher.search_many(workload, 12).collect():
        batched.setdefault(r["query"], []).append(
            (r["doc_id"], np.float32(r["score"]))
        )
    for name, q in workload.items():
        solo = [(r["doc_id"], np.float32(r["score"]))
                for r in searcher.search(q, 12).collect()]
        assert batched.get(name, []) == solo, name


def test_colocated_search_rank_identity(spark, built_index, searcher,
                                        common_terms):
    """Doc-at-a-time execution over the doc-range layout must be bit-
    identical to the term-at-a-time search() for every flat shape."""
    from lucene_spark.index.doclayout import build_doc_partitioned

    layout = build_doc_partitioned(spark, built_index, num_parts=4)
    assert layout["num_parts"] == 4
    # re-open so the searcher sees the layout manifest entry
    from lucene_spark.query.search import IndexSearcher
    s = IndexSearcher(spark, built_index)
    t0, t1, t2 = (common_terms[i][0] for i in range(3))
    rare = common_terms[-1][0]
    from lucene_spark.query.ast import BoostQuery
    shapes = [
        TermQuery(t0),
        BooleanQuery(must=[TermQuery(t0), TermQuery(t1)]),
        BooleanQuery(should=[TermQuery(t0), TermQuery(t1), TermQuery(rare)],
                     min_should_match=2),
        BooleanQuery(must=[TermQuery(t0)], must_not=[TermQuery(rare)]),
        BooleanQuery(must=[BoostQuery(TermQuery(t2), 2.0)],
                     should=[TermQuery(rare)]),
        BooleanQuery(must=[TermQuery(t0)], filter=[TermQuery(t1)]),
    ]
    for q in shapes:
        for k in (3, 15):
            exact = [(r["doc_id"], np.float32(r["score"]))
                     for r in s.search(q, k).collect()]
            coloc = [(r["doc_id"], np.float32(r["score"]))
                     for r in s.search_colocated(q, k).collect()]
            assert coloc == exact, (q, k)


def test_planner_routes_to_colocated(spark, built_index, common_terms):
    """With the doc-range layout present, multi-clause flat Booleans above
    LOCAL_POSTINGS_MAX (instance bound 0 here) route through
    search_colocated automatically (single-clause stays put). Below the
    bound the driver-local route wins even with the layout present."""
    from unittest.mock import patch

    from lucene_spark.index.doclayout import build_doc_partitioned
    from lucene_spark.query.search import IndexSearcher

    build_doc_partitioned(spark, built_index, num_parts=4)
    s = IndexSearcher(spark, built_index)
    s.LOCAL_POSTINGS_MAX = 0
    t0, t1 = common_terms[0][0], common_terms[1][0]
    conj = BooleanQuery(must=[TermQuery(t0), TermQuery(t1)])
    with patch.object(IndexSearcher, "search_colocated",
                      wraps=s.search_colocated) as spy:
        s.search(conj, 5).collect()
        assert spy.call_count == 1
        s.search(TermQuery(t0), 5).collect()  # single clause: not routed
        assert spy.call_count == 1
    small = IndexSearcher(spark, built_index)
    assert small.manifest.get("doc_layout")
    with patch.object(IndexSearcher, "search_colocated",
                      wraps=small.search_colocated) as spy:
        hits = small.search(conj, 5)
        assert spy.call_count == 0
    assert "LocalRelation" in hits._jdf.queryExecution().analyzed().toString()
    assert hits.collect() == s.search(conj, 5).collect()


def test_facet_ranges_counts(searcher, common_terms):
    """LongRangeFacetCounts analog: per-range counts equal a manual recount
    over the match set; overlapping ranges counted independently."""
    q = BooleanQuery(should=[TermQuery(common_terms[0][0])])
    hits = searcher._live(searcher._execute(q, np.float32(1.0)))
    lens = {
        r["doc_id"]: r["field_len"]
        for r in hits.select("doc_id").join(
            searcher.docmap().select("doc_id", "field_len"), "doc_id"
        ).collect()
    }
    ranges = [("a", 0, 30), ("b", 30, 80), ("all", 0, 10**6), ("ab", 10, 50)]
    got = {r["label"]: r["count"]
           for r in searcher.facet_ranges(q, "field_len", ranges).collect()}
    for lbl, lo, hi in ranges:
        assert got[lbl] == sum(1 for v in lens.values() if lo <= v < hi), lbl
    assert got["all"] == len(lens)


def test_term_vector_matches_postings(searcher, common_terms):
    """TermVectors analog: per-doc (term, freq, positions) consistent with
    the postings and positions artifacts."""
    t = common_terms[0][0]
    doc = searcher.search(TermQuery(t), 1).collect()[0]["doc_id"]
    tv = {r["term"]: r for r in searcher.term_vector(int(doc)).collect()}
    assert t in tv
    # freq agrees with the decoded posting for that (term, doc)
    freq = searcher.term_postings(t).filter(
        F.col("doc_id") == int(doc)).collect()[0]["freq"]
    assert tv[t]["freq"] == freq == len(tv[t]["positions"])
    # positions are sorted, distinct, in-range token indexes
    fl = searcher.docmap().filter(F.col("doc_id") == int(doc)).collect()[0][
        "field_len"]
    for r in tv.values():
        ps = list(r["positions"])
        assert ps == sorted(set(ps)) and all(0 <= p < fl for p in ps)
    # total term occurrences == field_len
    assert sum(r["freq"] for r in tv.values()) == fl


def test_function_score_rescoring(searcher, common_terms):
    """FunctionScoreQuery analog: factor in double, one float32 cast;
    negative factors score 0; 'score * 1.0' preserves BM25 rank/scores."""
    t = common_terms[0][0]
    q = TermQuery(t)
    base = [(r["doc_id"], np.float32(r["score"]))
            for r in searcher.search(q, 20).collect()]
    same = [(r["doc_id"], np.float32(r["score"]))
            for r in searcher.function_score(q, "score * 1.0", 20).collect()]
    assert same == base
    # manual recompute of a field-value boost
    lens = {r["doc_id"]: r["field_len"]
            for r in searcher.docmap().select("doc_id", "field_len").collect()}
    allhits = [(r["doc_id"], np.float32(r["score"]))
               for r in searcher.search(q, 10**6).collect()]
    expect = sorted(
        ((d, np.float32(np.float64(s) * (1.0 + 10.0 / (10.0 + lens[d]))))
         for d, s in allhits),
        key=lambda x: (-x[1], x[0]),
    )[:20]
    got = [(r["doc_id"], np.float32(r["score"]))
           for r in searcher.function_score(
               q, "score * (1.0 + 10.0 / (10.0 + field_len))", 20).collect()]
    assert got == expect
    # negative factor -> exactly 0 (reference's missing/negative rule)
    neg = searcher.function_score(q, "-1.0 * score", 5).collect()
    assert all(np.float32(r["score"]) == np.float32(0.0) for r in neg)


def test_boost_by_query(searcher, common_terms):
    """boostByQuery: matching docs multiplied (double mult, f32 cast),
    non-matching preserved bit-for-bit."""
    t0, t1 = common_terms[0][0], common_terms[1][0]
    q = TermQuery(t0)
    base = {r["doc_id"]: np.float32(r["score"])
            for r in searcher.search(q, 10**6).collect()}
    bset = {r["doc_id"] for r in searcher.search(TermQuery(t1), 10**6).collect()}
    expect = sorted(
        ((d, np.float32(np.float64(s) * 0.25) if d in bset else s)
         for d, s in base.items()),
        key=lambda x: (-x[1], x[0]),
    )[:15]
    got = [(r["doc_id"], np.float32(r["score"]))
           for r in searcher.boost_by_query(q, TermQuery(t1), 0.25, 15).collect()]
    assert got == expect


def test_facet_ranges_empty_match_set(searcher, common_terms):
    """A zero-match conjunction must report 0 per range, never NULL."""
    q = BooleanQuery(must=[TermQuery(common_terms[0][0]),
                           TermQuery("zz-not-a-term")])
    rows = searcher.facet_ranges(
        q, "field_len", [("a", 0, 10), ("b", 10, 10**6)]).collect()
    assert {r["label"]: r["count"] for r in rows} == {"a": 0, "b": 0}


def test_offsets_artifact_and_highlighting(spark, tmp_path):
    """IndexConfig.offsets: char spans stored per occurrence; offset-backed
    highlighting equals the regex extractor (whole-text and windowed);
    non-ASCII rows degrade to -1 spans and fall back per doc; term_vector
    serves the offsets; standard chains / positions=False are rejected."""
    import pandas as pd
    import pytest as _pytest

    from lucene_spark.index.build import IndexConfig, build_index
    from lucene_spark.index.merge import merge_index
    from lucene_spark.operators.highlight import (
        highlight_hits, highlight_hits_offsets,
    )
    from lucene_spark.query.ast import TermQuery
    from lucene_spark.query.search import IndexSearcher

    texts = [
        "alpha scans the scan table for scan hits",
        "merge and scan the merge plan",
        "café scan row",  # non-ASCII row -> no offsets, regex fallback
        "nothing to see",
    ]
    rows = pd.DataFrame({
        "conv_id": [f"c{i}" for i in range(len(texts))],
        "turn_idx": [0] * len(texts), "role": ["doc"] * len(texts),
        "text": texts, "tool": [None] * len(texts),
        "ts": pd.to_datetime(["2026-01-01"] * len(texts)),
    })
    idx = str(tmp_path / "off")
    build_index(spark, spark.createDataFrame(rows), idx,
                IndexConfig(num_segments=2, term_buckets=2,
                            analyzer="simple", offsets=True))
    merge_index(spark, idx)
    s = IndexSearcher(spark, idx)
    pos = s.positions_table()
    assert {"starts", "ends"} <= set(pos.columns)
    # spans point at the exact occurrences
    r = pos.filter((F.col("term") == "scan")).orderBy("doc_id").collect()
    doc0 = [x for x in r if x["doc_id"] == 0][0]
    for st, en in zip(doc0["starts"], doc0["ends"]):
        assert texts[0][st:en] == "scan"
    # non-ASCII row: -1 spans
    cafe = [x for x in r if texts[x["doc_id"]].startswith("café")]
    assert cafe and all(st == -1 for st in cafe[0]["starts"])

    src = spark.createDataFrame(rows)
    hits = s.search(TermQuery("scan"), 10)
    for window in (1_000_000, 20):
        a = {r["doc_id"]: r["snippet"] for r in highlight_hits(
            s, hits, src, ["scan"], window=window).collect()}
        b = {r["doc_id"]: r["snippet"] for r in highlight_hits_offsets(
            s, hits, src, ["scan"], window=window).collect()}
        assert a == b, window
    assert "<em>scan</em>" in b[0]

    # term_vector carries offsets
    tv = {r["term"]: r for r in s.term_vector(0, with_offsets=True).collect()}
    assert list(tv["scan"]["starts"]) == list(doc0["starts"])

    # config validation
    with _pytest.raises(ValueError, match="simple- or standard-base"):
        build_index(spark, src, str(tmp_path / "x1"),
                    IndexConfig(analyzer="whitespace_payload", offsets=True))
    with _pytest.raises(ValueError, match="positions"):
        build_index(spark, src, str(tmp_path / "x2"),
                    IndexConfig(analyzer="simple", offsets=True,
                                positions=False))


def test_payloads_artifact_and_payload_score(spark, tmp_path):
    """IndexConfig.payloads + PayloadScoreQuery analog: payload floats
    stored per occurrence in position order; sum/max/min/avg semantics with
    NaN (= absent payload) skipping; empty-term tokens don't consume an
    ordinal; include_span_score multiplies the BM25 term score in float32;
    config validation."""
    import pandas as pd
    import pytest as _pytest

    from lucene_spark.index.build import IndexConfig, build_index
    from lucene_spark.index.merge import merge_index
    from lucene_spark.query.ast import TermQuery
    from lucene_spark.query.search import IndexSearcher

    texts = [
        "run|0.5 run|0.25 jump|1.0",   # run: sum .75 max .5 min .25 avg .375
        "run jump|2.0",                # run occurrence w/o payload -> 0.0
        "run|bad run|0.5",             # unparseable -> skipped; sum 0.5
        "walk|3.0",
        "|9.9 RUN|1.5",                # empty term dropped; case-folded term
    ]
    rows = pd.DataFrame({
        "conv_id": [f"c{i}" for i in range(len(texts))],
        "turn_idx": [0] * len(texts), "role": ["doc"] * len(texts),
        "text": texts, "tool": [None] * len(texts),
        "ts": pd.to_datetime(["2026-01-01"] * len(texts)),
    })
    idx = str(tmp_path / "pay")
    build_index(spark, spark.createDataFrame(rows), idx,
                IndexConfig(num_segments=2, term_buckets=2,
                            analyzer="whitespace_payload", payloads=True))
    merge_index(spark, idx)
    s = IndexSearcher(spark, idx)

    pos = {r["doc_id"]: r for r in s.positions_table()
           .filter(F.col("term") == "run").collect()}
    assert list(np.float32(pos[0]["payloads"])) == [np.float32(0.5),
                                                    np.float32(0.25)]
    assert np.isnan(pos[1]["payloads"][0])
    assert np.isnan(pos[2]["payloads"][0])
    assert np.float32(pos[2]["payloads"][1]) == np.float32(0.5)
    assert list(np.float32(pos[4]["payloads"])) == [np.float32(1.5)]

    def scores(func):
        return {r["doc_id"]: np.float32(r["score"])
                for r in s.payload_score("run", 10, func=func).collect()}

    assert scores("sum") == {0: np.float32(0.75), 1: np.float32(0.0),
                             2: np.float32(0.5), 4: np.float32(1.5)}
    assert scores("max")[0] == np.float32(0.5)
    assert scores("min")[0] == np.float32(0.25)
    assert scores("avg")[0] == np.float32(0.375)

    # include_span_score == float32(bm25 * payload_sum), doc-asc tie-break
    span = {r["doc_id"]: np.float32(r["score"])
            for r in s.search(TermQuery("run"), 10).collect()}
    combo = {r["doc_id"]: np.float32(r["score"])
             for r in s.payload_score("run", 10, func="sum",
                                      include_span_score=True).collect()}
    for d, ps in scores("sum").items():
        assert combo[d] == np.float32(span[d] * ps), d

    with _pytest.raises(ValueError, match="whitespace"):
        build_index(spark, spark.createDataFrame(rows), str(tmp_path / "x1"),
                    IndexConfig(analyzer="simple", payloads=True))
    with _pytest.raises(ValueError, match="positions"):
        build_index(spark, spark.createDataFrame(rows), str(tmp_path / "x2"),
                    IndexConfig(analyzer="whitespace_payload", payloads=True,
                                positions=False))
    with _pytest.raises(ValueError, match="payload function"):
        s.payload_score("run", 10, func="median")


def test_payload_score_limit_capped_at_doc_count(spark, tmp_path):
    """An "all hits" k (the payload entries pass 10^9) is capped at the
    index's doc count before Spark plans the top-k, whose buffer is sized
    by the limit. Only the plan is read: executing the uncapped top-k
    allocates a 2*10^9-slot buffer on the driver."""
    import re

    import pandas as pd

    from lucene_spark.index.build import IndexConfig, build_index
    from lucene_spark.index.merge import merge_index

    texts = ["run|0.5 jump|1.0", "run|2.0", "walk|3.0"]
    rows = pd.DataFrame({
        "conv_id": [f"c{i}" for i in range(len(texts))],
        "turn_idx": [0] * len(texts), "role": ["doc"] * len(texts),
        "text": texts, "tool": [None] * len(texts),
        "ts": pd.to_datetime(["2026-01-01"] * len(texts)),
    })
    idx = str(tmp_path / "pay")
    build_index(spark, spark.createDataFrame(rows), idx,
                IndexConfig(num_segments=1, term_buckets=2,
                            analyzer="whitespace_payload", payloads=True))
    merge_index(spark, idx)
    s = IndexSearcher(spark, idx)
    plan = (s.payload_score("run", 1_000_000_000)
            ._jdf.queryExecution().executedPlan().toString())
    limits = [int(n) for n in re.findall(r"TakeOrderedAndProject\(limit=(\d+)",
                                         plan)]
    assert limits and max(limits) <= s.local_doc_count == len(texts), plan


def test_delimited_term_frequency_chain(spark, tmp_path):
    """DelimitedTermFrequencyTokenFilter semantics: 'foo|3' must be
    indistinguishable from literal 'foo foo foo' in a DOCS_AND_FREQS index
    — tf feeds the posting freq AND the field length
    (IndexingChain.java:1276) — so the annotated build is oracle-checked
    against an expansion build, stat-for-stat and score-for-score."""
    import pandas as pd
    import pytest as _pytest

    from lucene_spark.functions.analysis import split_tf_token
    from lucene_spark.index.build import IndexConfig, build_index
    from lucene_spark.index.merge import merge_index
    from lucene_spark.query.ast import TermQuery
    from lucene_spark.query.search import IndexSearcher

    texts = [
        "foo|3 bar foo|2 baz|4",   # repeated term: freqs sum (3+2)
        "bar|5 qux",
        "foo baz",                 # no delimiter -> tf 1
        "RUN|2 qux|1",             # case-folds into the run posting
        "run",
    ]
    expanded = [
        " ".join(sum(([split_tf_token(t)[0]] * split_tf_token(t)[1]
                      for t in txt.split()), []))
        for txt in texts
    ]
    rows = pd.DataFrame({
        "conv_id": [f"c{i}" for i in range(len(texts))],
        "turn_idx": [0] * len(texts), "role": ["doc"] * len(texts),
        "text": texts, "tool": [None] * len(texts),
        "ts": pd.to_datetime(["2026-01-01"] * len(texts)),
    })
    cfg = IndexConfig(num_segments=2, term_buckets=2,
                      analyzer="whitespace_tf", positions=False)
    idx_a = str(tmp_path / "tf")
    build_index(spark, spark.createDataFrame(rows), idx_a, cfg)
    merge_index(spark, idx_a)
    idx_b = str(tmp_path / "exp")
    build_index(spark, spark.createDataFrame(rows.assign(text=expanded)),
                idx_b, cfg)
    merge_index(spark, idx_b)

    sa, sb = IndexSearcher(spark, idx_a), IndexSearcher(spark, idx_b)
    td_a = {r["term"]: (r["doc_freq"], r["total_term_freq"])
            for r in sa.term_dict.collect()}
    td_b = {r["term"]: (r["doc_freq"], r["total_term_freq"])
            for r in sb.term_dict.collect()}
    assert td_a == td_b
    assert td_a["foo"] == (2, 6) and td_a["run"] == (2, 3)
    dl_a = {r["doc_id"]: r["field_len"] for r in sa.docmap().collect()}
    dl_b = {r["doc_id"]: r["field_len"] for r in sb.docmap().collect()}
    assert dl_a == dl_b and dl_a[0] == 10
    for term in ("foo", "bar", "run", "qux"):
        ha = [(r["doc_id"], np.float32(r["score"]))
              for r in sa.search(TermQuery(term), 10).collect()]
        hb = [(r["doc_id"], np.float32(r["score"]))
              for r in sb.search(TermQuery(term), 10).collect()]
        assert ha == hb and ha, term

    # contract guards: positions forbidden; strict integer parse, tf >= 1
    with _pytest.raises(ValueError, match="positions=False"):
        build_index(spark, spark.createDataFrame(rows), str(tmp_path / "x1"),
                    IndexConfig(analyzer="whitespace_tf"))
    assert split_tf_token("plain") == ("plain", 1)
    with _pytest.raises(ValueError):
        split_tf_token("foo|x")
    with _pytest.raises(ValueError):
        split_tf_token("foo|")
    with _pytest.raises(ValueError, match="1 or greater"):
        split_tf_token("foo|0")


def test_span_first_or_not_semantics(spark, tmp_path):
    """SpanFirst/SpanOr/SpanNot against hand ground truth: end cutoffs,
    pre/post exclusion windows, docs without the exclude term, absent
    terms, and weight semantics (SpanOr merges clause idfs; SpanNot keeps
    the include idf only == plain TermQuery weight)."""
    import pandas as pd

    from lucene_spark.index.build import IndexConfig, build_index
    from lucene_spark.index.merge import merge_index
    from lucene_spark.query.ast import TermQuery
    from lucene_spark.query.search import IndexSearcher

    texts = [
        "aa bb aa cc aa",    # aa at 0,2,4; bb at 1; cc at 3
        "bb bb aa",          # aa at 2
        "cc dd",             # no aa
        "aa aa bb",          # aa at 0,1; bb at 2
    ]
    rows = pd.DataFrame({
        "conv_id": [f"c{i}" for i in range(len(texts))],
        "turn_idx": [0] * len(texts), "role": ["doc"] * len(texts),
        "text": texts, "tool": [None] * len(texts),
        "ts": pd.to_datetime(["2026-01-01"] * len(texts)),
    })
    idx = str(tmp_path / "span")
    build_index(spark, spark.createDataFrame(rows), idx,
                IndexConfig(num_segments=2, term_buckets=2, analyzer="simple"))
    merge_index(spark, idx)
    s = IndexSearcher(spark, idx)

    def freqs(df):  # recover matched docs (freq drives the score ordering)
        return {r["doc_id"] for r in df.collect()}

    # span_first: aa ending within first 2 positions -> p < 2
    assert freqs(s.span_first("aa", 2, 10)) == {0, 3}
    assert freqs(s.span_first("aa", 3, 10)) == {0, 1, 3}
    assert s.span_first("aa", 0, 10).count() == 0
    assert s.span_first("zz", 5, 10).count() == 0

    # span_or: union of aa/cc spans
    assert freqs(s.span_or(["aa", "cc"], 10)) == {0, 1, 2, 3}
    assert freqs(s.span_or(["zz", "cc"], 10)) == {0, 2}
    assert s.span_or(["zz"], 10).count() == 0

    # span_not: aa not adjacent (pre=1, post=1) to bb
    # doc0: aa@0 (bb@1 adjacent -> drop), aa@2 (bb@1 adjacent -> drop),
    #       aa@4 (bb@1 far, cc ignored -> keep) => matches
    # doc1: aa@2, bb@1 adjacent -> no match
    # doc3: aa@0 keep (bb@2 not within 1? |2-0|=2 > 1 -> keep), aa@1 (bb@2
    #       adjacent -> drop) => matches via aa@0
    got = freqs(s.span_not("aa", "bb", 10, pre=1, post=1))
    assert got == {0, 3}, got
    # no exclusion window (pre=post=0): term spans never co-occupy a
    # position, so every aa doc matches with full freq == TermQuery scores
    sn = {r["doc_id"]: np.float32(r["score"])
          for r in s.span_not("aa", "bb", 10).collect()}
    tq = {r["doc_id"]: np.float32(r["score"])
          for r in s.search(TermQuery("aa"), 10).collect()}
    assert sn == tq
    # exclude term absent from the index entirely
    assert freqs(s.span_not("aa", "zz", 10, pre=2, post=2)) == {0, 1, 3}


def test_facet_taxonomy_null_next_level_not_counted(spark, tmp_path):
    """Docs whose next-level dimension is NULL contribute no facet row
    (TaxonomyFacetCounts never emits a null label)."""
    import pandas as pd

    from lucene_spark.index.build import IndexConfig, build_index
    from lucene_spark.index.merge import merge_index
    from lucene_spark.query.ast import TermQuery
    from lucene_spark.query.search import IndexSearcher

    rows = pd.DataFrame({
        "conv_id": ["c0", "c1", "c2"], "turn_idx": [0, 0, 0],
        "role": ["user", "user", None],  # role is the facet dimension
        "text": ["zz aa", "zz bb", "zz cc"], "tool": [None] * 3,
        "ts": pd.to_datetime(["2026-01-01"] * 3),
    })
    idx = str(tmp_path / "tx")
    build_index(spark, spark.createDataFrame(rows), idx,
                IndexConfig(num_segments=1, term_buckets=2, analyzer="simple"))
    merge_index(spark, idx)
    s = IndexSearcher(spark, idx)
    out = s.facet_taxonomy(TermQuery("zz"), ["role"]).collect()
    assert [(r["value"], r["count"]) for r in out] == [("user", 2)]


def test_offsets_standard_chain_all_rows(spark, tmp_path):
    """Standard-base chains store EXACT offsets for every row — including
    non-ASCII text (the chain tokenizes raw-first, so the tokenizer regex's
    spans are the offsets; no ASCII degradation like the simple chain)."""
    import pandas as pd

    from lucene_spark.index.build import IndexConfig, build_index
    from lucene_spark.index.merge import merge_index
    from lucene_spark.operators.highlight import (
        highlight_hits, highlight_hits_offsets,
    )
    from lucene_spark.query.ast import TermQuery
    from lucene_spark.query.search import IndexSearcher

    texts = [
        "alpha scan beta scan",
        "café scan row",          # non-ASCII row gets REAL offsets here
        "Ÿscan boundary scan",    # U+0178 is a letter: "Ÿscan" one token
    ]
    rows = pd.DataFrame({
        "conv_id": [f"c{i}" for i in range(len(texts))],
        "turn_idx": [0] * len(texts), "role": ["doc"] * len(texts),
        "text": texts, "tool": [None] * len(texts),
        "ts": pd.to_datetime(["2026-01-01"] * len(texts)),
    })
    idx = str(tmp_path / "off_std")
    build_index(spark, spark.createDataFrame(rows), idx,
                IndexConfig(num_segments=2, term_buckets=2,
                            analyzer="standard", offsets=True))
    merge_index(spark, idx)
    s = IndexSearcher(spark, idx)
    pos = {(r["doc_id"], r["term"]): r for r in s.positions_table().collect()}
    # every stored span slices back to a string that lowercases to the term
    from lucene_spark.functions.analysis import java_lower
    for (d, t), r in pos.items():
        for st, en in zip(r["starts"], r["ends"]):
            assert st >= 0, (d, t)
            assert java_lower(texts[d][st:en]) == t, (d, t, texts[d][st:en])
    # café row has real offsets (no degradation)
    cafe = pos[(1, "café")]
    assert texts[1][cafe["starts"][0]:cafe["ends"][0]] == "café"
    # offset-backed highlighting == regex extractor on the ASCII doc;
    # "Ÿscan" is one standard token, so doc 2 matches "scan" only once
    src = spark.createDataFrame(rows)
    hits = s.search(TermQuery("scan"), 10)
    a = {r["doc_id"]: r["snippet"] for r in highlight_hits(
        s, hits, src, ["scan"], window=1_000_000).collect()}
    b = {r["doc_id"]: r["snippet"] for r in highlight_hits_offsets(
        s, hits, src, ["scan"], window=1_000_000).collect()}
    assert a[0] == b[0]
    assert b[2].count("<em>") == 1  # offsets know Ÿscan is not a match


def test_span_position_range_semantics(spark, tmp_path):
    """SpanPositionRangeQuery: start <= p < end window; start=0 is
    bit-identical to SpanFirst (SpanFirstQuery extends
    SpanPositionRangeQuery with start=0)."""
    import pandas as pd

    from lucene_spark.index.build import IndexConfig, build_index
    from lucene_spark.index.merge import merge_index
    from lucene_spark.query.search import IndexSearcher

    texts = [
        "aa bb aa cc aa",    # aa at 0,2,4
        "bb bb aa",          # aa at 2
        "cc dd",             # no aa
        "aa aa bb",          # aa at 0,1
    ]
    rows = pd.DataFrame({
        "conv_id": [f"c{i}" for i in range(len(texts))],
        "turn_idx": [0] * len(texts), "role": ["doc"] * len(texts),
        "text": texts, "tool": [None] * len(texts),
        "ts": pd.to_datetime(["2026-01-01"] * len(texts)),
    })
    idx = str(tmp_path / "spanpr")
    build_index(spark, spark.createDataFrame(rows), idx,
                IndexConfig(num_segments=2, term_buckets=2, analyzer="simple"))
    merge_index(spark, idx)
    s = IndexSearcher(spark, idx)

    got = {r["doc_id"] for r in s.span_position_range("aa", 1, 3, 10).collect()}
    assert got == {0, 1, 3}          # p in {2}, {2}, {1}
    got = {r["doc_id"] for r in s.span_position_range("aa", 3, 9, 10).collect()}
    assert got == {0}                # only p=4
    assert s.span_position_range("aa", 2, 2, 10).count() == 0
    # start=0 == span_first, scores included
    import numpy as np
    a = [(r.doc_id, np.float32(r.score))
         for r in s.span_position_range("aa", 0, 3, 10).collect()]
    b = [(r.doc_id, np.float32(r.score))
         for r in s.span_first("aa", 3, 10).collect()]
    assert a == b


def test_function_match_and_range(spark, built_index):
    """FunctionMatchQuery / FunctionRangeQuery analogs: constant score &
    NULL-no-match; value-as-score with the NaN -> -Float.MAX_VALUE clamp
    and missing -> 0.0 FieldCache default."""
    import numpy as np

    from lucene_spark.query.search import IndexSearcher

    s = IndexSearcher(spark, built_index)
    dm = {r["doc_id"]: r["field_len"] for r in
          s.docmap().select("doc_id", "field_len").collect()}

    hits = s.function_match("field_len", "v % 5 = 2", k=10_000, boost=2.5)
    rows = hits.collect()
    assert rows and all(np.float32(r["score"]) == np.float32(2.5)
                        for r in rows)
    assert {r["doc_id"] for r in rows} == {d for d, fl in dm.items()
                                           if fl % 5 == 2}
    # NULL value -> advanceExact false -> no match
    odd = s.function_match("IF(doc_id % 2 = 0, NULL, field_len)",
                           "v >= 0", k=10_000)
    assert all(r["doc_id"] % 2 == 1 for r in odd.collect())

    rng = s.function_range("field_len", lower=10.0, upper=20.0,
                           include_upper=False, k=10_000).collect()
    assert rng and all(10 <= dm[r["doc_id"]] < 20 for r in rng)
    assert all(np.float32(r["score"]) == np.float32(float(dm[r["doc_id"]]))
               for r in rng)
    scores = [r["score"] for r in rng]
    assert scores == sorted(scores, reverse=True)
    # NaN value never matches (Java double comparisons are false for NaN;
    # Spark orders NaN above everything — the engine excludes explicitly)
    assert s.function_range("CAST('NaN' AS DOUBLE)", lower=0.0,
                            k=10).collect() == []
    assert s.function_range("CAST('NaN' AS DOUBLE)", k=10).collect() == []
    # -Infinity matches an unbounded range and clamps to -Float.MAX_VALUE
    ninf = s.function_range("CAST('-Infinity' AS DOUBLE)", k=5).collect()
    assert len(ninf) == 5 and all(
        np.float32(r["score"]) == np.float32(-np.finfo(np.float32).max)
        for r in ninf)
    # missing value reads 0.0 (FieldCache default)
    mr = s.function_range("IF(doc_id % 2 = 0, NULL, field_len)",
                          lower=0.0, upper=0.0, k=10_000).collect()
    assert mr and all(r["doc_id"] % 2 == 0 for r in mr)
    assert all(np.float32(r["score"]) == np.float32(0.0) for r in mr)


def test_query_profile(spark, built_index):
    """Profiler breakdown: leaf df/blocks/ttf match the term dictionary,
    operator counts match brute-force set algebra, msm arm, flat guard."""
    _check_profile(IndexSearcher(spark, built_index))


def test_query_profile_spark_route(spark, built_index):
    s = IndexSearcher(spark, built_index)
    s.LOCAL_POSTINGS_MAX = 0
    _check_profile(s)


def _check_profile(s):
    import json

    from lucene_spark.query.ast import parse_query, rewrite_fixpoint

    td = {r["term"]: (r["doc_freq"], r["num_blocks"], r["total_term_freq"])
          for r in s.term_dict.filter(
              F.col("term").isin(["ba", "be", "bi"])).collect()}
    def doc_set(term):
        from lucene_spark.query.ast import TermQuery
        return {r["doc_id"] for r in s.search(TermQuery(term), 10_000)
                .collect()}

    d_ba, d_be, d_bi = doc_set("ba"), doc_set("be"), doc_set("bi")
    ast = {"bool": {"must": [{"term": "ba"}],
                    "should": [{"term": "be"}, {"term": "bi"}],
                    "min_should_match": 1}}
    prof = {(r["node"], r["detail"]): r.asDict() for r in s.profile(
        rewrite_fixpoint(parse_query(json.dumps(ast)))).collect()}
    for t, kind in (("ba", "leaf:must"), ("be", "leaf:should"),
                    ("bi", "leaf:should")):
        row = prof[(kind, t)]
        assert (row["docs"], row["blocks"], row["ttf"]) == td[t], t
    assert prof[("candidates", "")]["docs"] == len(d_ba | d_be | d_bi)
    assert prof[("must_pass", "")]["docs"] == len(d_ba)
    assert prof[("msm_pass", "")]["docs"] == len(d_ba & (d_be | d_bi))
    assert prof[("excluded", "")]["docs"] == 0
    assert prof[("matched", "")]["docs"] == len(d_ba & (d_be | d_bi))

    # bare term query profiles as a single-must boolean
    one = s.profile(rewrite_fixpoint(parse_query('{"term": "ba"}')))
    rows = {r["node"]: r["docs"] for r in one.collect()}
    assert rows["leaf:must"] == td["ba"][0] == rows["matched"]

    import pytest as _pt
    with _pt.raises(ValueError, match="flat"):
        s.profile(rewrite_fixpoint(parse_query('{"phrase": ["ba", "be"]}')))


def test_wildcard_follows_lucene_grammar():
    """WildcardQuery patterns follow Lucene's grammar in the engine's term
    rule (RE2 through pyarrow, on the driver and inside Spark alike) and
    in the Python oracle: ``*`` is any string, ``?`` one code point, a
    backslash escapes the next character (a trailing one is literal), and
    ``[``, ``]`` and ``!`` are literal."""
    import pyarrow as pa

    from lucene_spark.query.ast import WildcardQuery, expand_multi_term
    from lucene_spark.query.search import _term_rule

    vocab = ["a[bc]", "a[bc]d", "a[b", "ab", "ac", "abd", "fo", "fo*",
             "fo*o", "foo", "fo\\", "x!y", "xy", "é\U0001d11ez", "éz"]
    cases = {
        "a[bc]*": {"a[bc]", "a[bc]d"},
        "fo\\*": {"fo*"},
        "fo\\": {"fo\\"},
        "fo*": {"fo", "fo*", "fo*o", "foo", "fo\\"},
        "a?": {"ab", "ac"},
        "x!y": {"x!y"},
        "é?z": {"é\U0001d11ez"},
    }
    batch = pa.record_batch({"term": pa.array(vocab, pa.string())})
    for pattern, want in cases.items():
        rule = _term_rule(WildcardQuery(pattern))
        assert {t for b in rule.select([batch])
                for t in b.column("term").to_pylist()} == want, pattern
        got = expand_multi_term(WildcardQuery(pattern), vocab)
        terms = ({c.term for c in got.should} if isinstance(got, BooleanQuery)
                 else {got.term})
        assert terms == want, pattern

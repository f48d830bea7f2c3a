"""The driver-local route of term, flat-Boolean and bare multi-term queries
(``IndexSearcher._local_topk``, ``_multi_term_rows``, ``query/local.py``)
against the Spark route. A searcher whose instance-level ``LOCAL_POSTINGS_MAX`` is 0 always
takes the Spark route, so each check runs one query both ways and requires
identical rows: doc ids and float32 score bits, in order. Both routes
combine clauses with one kernel (``local.combine_clauses``), so these
checks cover reading, decoding, scoring and routing, not the combine rule
itself: the scalar-oracle tests check that on both routes
(``*_spark_route`` in test_random_queries.py and test_search_extras.py)."""

from __future__ import annotations

import random
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_spark.index.build import IndexConfig, build_index, load_manifest
from lucene_spark.index.deletes import soft_delete_docs
from lucene_spark.index.merge import merge_index
from lucene_spark.index.update import update_docs
from lucene_spark.query.ast import (
    BooleanQuery, BoostQuery, PrefixQuery, RegexpQuery, TermInSetQuery,
    TermQuery, TermRangeQuery, WildcardQuery, rewrite_fixpoint,
)
from lucene_spark.query.multi import MultiIndexSearcher
from lucene_spark.query.search import IndexSearcher
from lucene_spark.sources.transcripts import generate_pandas
from lucene_spark.streaming.append import stage_batch_segment

ABSENT = "zzzz-absent"


def _rows(df):
    return [(int(r["doc_id"]), np.float32(r["score"]).tobytes())
            for r in df.collect()]


def _is_local(df) -> bool:
    return "LocalRelation" in df._jdf.queryExecution().analyzed().toString()


def _pair(spark, index_dir, **kw):
    """(local-route searcher, Spark-route searcher) over one index."""
    loc = IndexSearcher(spark, index_dir, **kw)
    spk = IndexSearcher(spark, index_dir, **kw)
    spk.LOCAL_POSTINGS_MAX = 0
    return loc, spk


def _assert_same(loc, spk, q, k):
    got = loc.search(q, k)
    assert _is_local(got), q
    want = _rows(spk.search(q, k))
    assert _rows(got) == want, (q, k)
    return want


def _vocab(searcher) -> list[str]:
    rows = searcher.term_dict.orderBy(F.desc("doc_freq"), "term").collect()
    # hot, mid and cold terms, so clauses overlap in many docs or few
    return [r["term"] for r in rows[:12] + rows[len(rows) // 2:][:12]
            + rows[-6:]]


def _random_flat(rng: random.Random, vocab: list[str]):
    """A random flat Boolean: 0-2 clauses per kind, random msm, clause
    boosts, df_override terms, absent terms, an optional outer boost."""
    def leaf():
        t = ABSENT if rng.random() < 0.1 else rng.choice(vocab)
        q = (TermQuery(t, df_override=rng.randint(1, 40))
             if rng.random() < 0.15 else TermQuery(t))
        if rng.random() < 0.25:
            q = BoostQuery(q, rng.choice([0.5, 2.0, 3.25]))
        return q

    groups = {kind: [leaf() for _ in range(rng.randint(0, 2))]
              for kind in ("must", "should", "filter", "must_not")}
    msm = rng.randint(0, len(groups["should"])) if groups["should"] else 0
    q = BooleanQuery(**groups, min_should_match=msm)
    return BoostQuery(q, 1.5) if rng.random() < 0.2 else q


def _fixed_shapes(vocab: list[str]):
    t0, t1, t2 = vocab[0], vocab[1], vocab[13]
    return [
        TermQuery(t0),
        TermQuery(vocab[-1]),
        TermQuery(ABSENT),
        BoostQuery(TermQuery(t2), 2.0),
        BooleanQuery(filter=[TermQuery(t0)]),
        BooleanQuery(filter=[TermQuery(t0)], must_not=[TermQuery(t1)]),
        BooleanQuery(must_not=[TermQuery(t0)]),
        BooleanQuery(should=[TermQuery(t0), TermQuery(t1), TermQuery(t2)],
                     min_should_match=2),
        BooleanQuery(must=[TermQuery(t0)], should=[TermQuery(t1)],
                     min_should_match=1),
        BooleanQuery(must=[TermQuery(t0), TermQuery(ABSENT)]),
    ]


@pytest.mark.parametrize("similarity,n_random", [
    ("bm25", 24), ("classic", 8), ("boolean", 8)])
def test_local_route_matches_spark_route(spark, built_index, similarity,
                                         n_random):
    loc, spk = _pair(spark, built_index, similarity=similarity)
    vocab = _vocab(loc)
    rng = random.Random(f"local-{similarity}")
    queries = _fixed_shapes(vocab) + [_random_flat(rng, vocab)
                                      for _ in range(n_random)]
    for q in queries:
        # k = 1000 exceeds every hit count here; small k cuts through ties
        # (the boolean similarity and filter-only queries tie often)
        _assert_same(loc, spk, q, rng.choice([1, 3, 10, 1000]))


_BASE = dict(n_convs=24, seed=61, vocab_size=250, max_turns=6)


@pytest.fixture(scope="module")
def deleted_index(spark, tmp_path_factory):
    """An index with hard deletes (update_docs) and soft deletes, all
    committed."""
    base = generate_pandas(**_BASE)
    idx = str(tmp_path_factory.mktemp("localdel") / "idx")
    build_index(spark, spark.createDataFrame(base), idx,
                IndexConfig(num_segments=2, term_buckets=4, hot_term_df=64))
    merge_index(spark, idx)
    convs = sorted(base["conv_id"].unique())
    batch = base[base["conv_id"].isin(convs[:3])].copy()
    batch["text"] = "qqupdated " + batch["text"]
    update_docs(spark, idx, spark.createDataFrame(batch), batch_id=1)
    soft_delete_docs(spark, idx, spark.createDataFrame(
        [(d,) for d in range(1, 60, 4)], "doc_id long"))
    return idx


@pytest.fixture(scope="module")
def updated_index(spark, deleted_index, tmp_path_factory):
    """A copy of ``deleted_index`` plus a staged segment that was never
    committed."""
    idx = str(tmp_path_factory.mktemp("localupd") / "idx")
    shutil.copytree(deleted_index, idx)
    base = generate_pandas(**_BASE)
    staged = base[base["conv_id"] == sorted(base["conv_id"].unique())[-1]]
    staged = staged.assign(text="qqstaged " + staged["text"])
    assert stage_batch_segment(spark, spark.createDataFrame(staged), idx,
                               load_manifest(idx), batch_id=2) is not None
    return idx


@pytest.mark.parametrize("include_soft", [False, True])
def test_local_route_matches_spark_route_with_deletes(spark, updated_index,
                                                      include_soft):
    loc, spk = _pair(spark, updated_index,
                     include_soft_deletes=include_soft)
    assert loc.has_deletes and loc._tombstones().size > 0
    vocab = _vocab(loc)
    rng = random.Random(f"local-deletes-{include_soft}")
    for q in _fixed_shapes(vocab)[:6] + [_random_flat(rng, vocab)
                                         for _ in range(6)]:
        _assert_same(loc, spk, q, 1000)
    dead = set(loc._tombstones().tolist())
    hits = _assert_same(loc, spk, TermQuery("qqupdated"), 1000)
    assert hits and not {d for d, _ in hits} & dead
    # the staged segment's rows are on disk but not committed: invisible
    assert _assert_same(loc, spk, TermQuery("qqstaged"), 1000) == []


@pytest.mark.parametrize("include_soft", [False, True])
def test_count_and_profile_agree_across_routes_with_deletes(
        spark, updated_index, include_soft):
    """count() and profile()'s operator counts come from one combine
    kernel on both routes: equal on both, equal to the live hit count,
    tombstoned docs left out."""
    loc, spk = _pair(spark, updated_index,
                     include_soft_deletes=include_soft)
    vocab = _vocab(loc)
    rng = random.Random(f"count-profile-{include_soft}")
    for q in _fixed_shapes(vocab) + [_random_flat(rng, vocab)
                                     for _ in range(6)]:
        q = q.query if isinstance(q, BoostQuery) else q
        hits = _assert_same(loc, spk, q, 100_000)
        assert loc.count(q) == spk.count(q) == len(hits), q
        if not isinstance(rewrite_fixpoint(q), (BooleanQuery, TermQuery)):
            continue  # rewritten away (e.g. to MatchNoDocs): no profile
        prof = [r.asDict() for r in loc.profile(q).collect()]
        assert prof == [r.asDict() for r in spk.profile(q).collect()], q
        ops = {r["node"]: r["docs"] for r in prof}
        assert ops["matched"] == len(hits), q
        assert (ops["candidates"] >= ops["must_pass"] >= ops["msm_pass"]
                == ops["excluded"] + ops["matched"]), q


def test_local_route_matches_spark_route_multi_index(spark, built_index,
                                                     updated_index):
    loc = MultiIndexSearcher(spark, [built_index, updated_index])
    spk = MultiIndexSearcher(spark, [built_index, updated_index])
    for leaf in spk.leaves:
        leaf.LOCAL_POSTINGS_MAX = 0
    vocab = _vocab(loc.leaves[0])
    rng = random.Random("local-multi")
    for q in [TermQuery(vocab[0]), TermQuery(vocab[-1])] + [
            _random_flat(rng, vocab) for _ in range(4)]:
        assert all(_is_local(leaf.search(q, 12)) for leaf in loc.leaves)
        assert _rows(loc.search(q, 12)) == _rows(spk.search(q, 12)), q


def test_search_many_local_route_equals_search(spark, built_index):
    """Each query's search_many rows equal its search() rows, on both
    routes. The no-hit query's name sorts between two matching ones: a
    local table with an empty record batch in the middle loses every
    batch after it when it reaches Spark."""
    loc, spk = _pair(spark, built_index)
    vocab = _vocab(loc)
    rng = random.Random("local-many")
    workload = {
        "a_term": TermQuery(vocab[0]),
        "b_none": TermQuery(ABSENT),
        "c_conj": BooleanQuery(must=[TermQuery(vocab[0]),
                                     TermQuery(vocab[1])]),
        "d_filter": BooleanQuery(filter=[TermQuery(vocab[13])]),
    }
    workload.update({f"r{i}": _random_flat(rng, vocab) for i in range(6)})
    workload = {n: q.query if isinstance(q, BoostQuery) else q
                for n, q in workload.items()}
    many = loc.search_many(workload, 7)
    assert _is_local(many)
    got = many.collect()
    assert [r["query"] for r in got] == sorted(r["query"] for r in got)
    assert _rows(spk.search_many(workload, 7)) == _rows(many)
    for name, q in workload.items():
        want = _rows(spk.search(q, 7))
        assert _rows(loc.search(q, 7)) == want, name
        assert [(int(r["doc_id"]), np.float32(r["score"]).tobytes())
                for r in got if r["query"] == name] == want, name
    assert {r["query"] for r in got} >= {"a_term", "c_conj", "d_filter"}
    assert loc.search_many({}, 7).collect() == []


def _multi_term_shapes(vocab: list[str]):
    """Bare Prefix, Boost(Prefix), TermRange (both bounds, open ends,
    exclusive ends), TermInSet (absent terms too), Wildcard (``?`` and
    ``*``, a leading ``*``, Boost-wrapped) and Regexp (a top-level ``&``
    with an ``<n-m>`` interval, a nested intersection) queries, each
    matching some term. The last one, a Wildcard whose escaped ``*`` is a
    literal star, matches none: no term holds one."""
    hot, mid = vocab[0], vocab[13]
    lo, hi = sorted((vocab[1], vocab[14]))
    return [
        PrefixQuery(hot[:2]),
        PrefixQuery(mid[:3]),
        PrefixQuery(hot),
        BoostQuery(PrefixQuery(mid[:2]), 2.5),
        TermRangeQuery(lo, hi),
        TermRangeQuery(lo, hi, include_lower=False, include_upper=False),
        TermRangeQuery(None, lo),
        TermRangeQuery(hi, None, include_lower=False),
        TermInSetQuery((hot, mid, ABSENT, "aaaa-absent")),
        WildcardQuery(mid[0] + "?" + mid[2:] + "*"),
        WildcardQuery("*" + hot[-1]),
        BoostQuery(WildcardQuery(hot[0] + "*"), 1.5),
        RegexpQuery(f'("{hot}"|"{mid}")(<1-20>)?&"{hot[0]}".*'),
        RegexpQuery(f'(("{hot}".*&.*"{hot[-1]}")|"{mid}")'),
        WildcardQuery(hot[:2] + "\\*"),
    ]


def _all_rows(df):
    return sorted(_rows(df))


def test_multi_term_local_route_matches_join_path(spark, built_index):
    """A small bare multi-term query runs as the OR of its dictionary
    expansion on the driver; on the bound-0 searcher it takes the
    expansion join. Rows, every match (``_scored_all``) and count()
    agree. Over max_clause_count the query falls back to the join path
    rather than raising."""
    loc, spk = _pair(spark, built_index)
    vocab = _vocab(loc)
    *shapes, none = _multi_term_shapes(vocab)
    for q in shapes:
        assert not _is_local(spk.search(q, 10)), q
        for k in (3, 1000):
            hits = _assert_same(loc, spk, q, k)
        assert hits, q
        every = loc._scored_all(q)
        assert _is_local(every), q
        assert _all_rows(every) == _all_rows(spk._scored_all(q)), q
        assert loc.count(q) == len(hits), q
    assert _assert_same(loc, spk, none, 10) == [] and loc.count(none) == 0
    loc.max_clause_count = 8
    for q in (PrefixQuery(""), PrefixQuery(vocab[0][:1]), WildcardQuery("?*")):
        assert len(loc._dict_terms(q, 9)) > 8
        got = loc.search(q, 10)
        assert not _is_local(got), q
        assert _rows(got) == _rows(spk.search(q, 10)), q


@pytest.mark.parametrize("include_soft", [False, True])
def test_multi_term_local_route_with_deletes(spark, deleted_index,
                                             updated_index, include_soft):
    """Tombstoned docs stay out of the local route's multi-term hits as
    they do out of the join path's. A staged segment's term statistics
    are not counted before its commit, so there too bare multi-term
    queries take the local route with the join path's rows; the staged
    terms match nothing on either route."""
    loc, spk = _pair(spark, deleted_index,
                     include_soft_deletes=include_soft)
    dead = set(loc._tombstones().tolist())
    assert dead
    vocab = _vocab(loc)
    *shapes, none = _multi_term_shapes(vocab)
    for q in shapes + [PrefixQuery("qqupd")]:
        hits = _assert_same(loc, spk, q, 1000)
        assert hits and not {d for d, _ in hits} & dead, q
    assert _assert_same(loc, spk, none, 1000) == []
    assert _assert_same(loc, spk, PrefixQuery("qqstag"), 1000) == []

    loc, spk = _pair(spark, updated_index,
                     include_soft_deletes=include_soft)
    for q in _multi_term_shapes(vocab)[:4] + [PrefixQuery("qqstag")]:
        _assert_same(loc, spk, q, 1000)
    assert _rows(loc.search(PrefixQuery("qqstag"), 1000)) == []

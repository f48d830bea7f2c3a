"""The driver-local route of term and flat-Boolean queries
(``IndexSearcher._local_topk``, ``query/local.py``) against the Spark
route. A searcher whose instance-level ``LOCAL_POSTINGS_MAX`` is 0 always
takes the Spark route, so each check runs one query both ways and requires
identical rows: doc ids and float32 score bits, in order."""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_spark.index.build import IndexConfig, build_index, load_manifest
from lucene_spark.index.deletes import soft_delete_docs
from lucene_spark.index.merge import merge_index
from lucene_spark.index.update import update_docs
from lucene_spark.query.ast import BooleanQuery, BoostQuery, TermQuery
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


@pytest.fixture(scope="module")
def updated_index(spark, tmp_path_factory):
    """An index with hard deletes (update_docs), soft deletes, and a
    staged segment that was never committed."""
    base = generate_pandas(n_convs=24, seed=61, vocab_size=250, max_turns=6)
    idx = str(tmp_path_factory.mktemp("localupd") / "idx")
    build_index(spark, spark.createDataFrame(base), idx,
                IndexConfig(num_segments=2, term_buckets=4, hot_term_df=64))
    merge_index(spark, idx)
    convs = sorted(base["conv_id"].unique())
    batch = base[base["conv_id"].isin(convs[:3])].copy()
    batch["text"] = "qqupdated " + batch["text"]
    update_docs(spark, idx, spark.createDataFrame(batch), batch_id=1)
    soft_delete_docs(spark, idx, spark.createDataFrame(
        [(d,) for d in range(1, 60, 4)], "doc_id long"))
    staged = base[base["conv_id"] == convs[-1]].copy()
    staged["text"] = "qqstaged " + staged["text"]
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

"""Randomized query property test — the RandomizedRunner / TestBoolean2
idiom: seeded random Boolean trees executed on the Spark engine AND the
scalar oracle, asserting identical top-k docIDs and float32 scores.

Uses a fixed seed so runs are reproducible (Lucene prints its seed for
repro; ours is pinned)."""

from __future__ import annotations

import random

import numpy as np
import pytest

from lucene_spark.query.ast import (
    BooleanQuery,
    BoostQuery,
    MatchAllDocsQuery,
    PrefixQuery,
    TermInSetQuery,
    TermQuery,
    TermRangeQuery,
    WildcardQuery,
    expand_multi_term,
    rewrite_fixpoint,
)
from lucene_spark.query.search import IndexSearcher

#: 20260817 is the original pinned seed; 101 is the seed whose query 45
#: (a filter+must_not tree with NO scoring clause) caught the NaN-score
#: bug the first suite never generated — kept so the shape stays covered.
SEEDS = (20260817, 101)
N_QUERIES = 25

# extended fuzz sessions (fresh seeds, the discipline that caught the
# filter-only-NaN bug): EXTRA_FUZZ_SEEDS="7,8,9" pytest -k random
import os as _os

_extra = _os.environ.get("EXTRA_FUZZ_SEEDS", "")
if _extra:
    SEEDS = SEEDS + tuple(int(s) for s in _extra.split(",") if s.strip())


@pytest.fixture(scope="module")
def searcher(spark, built_index):
    return IndexSearcher(spark, built_index)


@pytest.fixture(scope="module")
def spark_route(spark, built_index):
    """A searcher whose term and flat-Boolean queries take the Spark route
    (no driver-local execution), so the combine kernel it runs per doc
    partition is checked against the scalar oracle too."""
    s = IndexSearcher(spark, built_index)
    s.LOCAL_POSTINGS_MAX = 0
    return s


def _random_query(rng: random.Random, vocab: list[str], depth: int = 0):
    roll = rng.random()
    if depth >= 2 or roll < 0.45:
        t = TermQuery(rng.choice(vocab))
        if rng.random() < 0.25:
            return BoostQuery(t, round(rng.uniform(0.25, 3.0), 2))
        return t
    if roll < 0.50:
        return PrefixQuery(rng.choice(vocab)[:2])
    if roll < 0.53:
        return WildcardQuery(rng.choice(vocab)[:1] + "*" + rng.choice(vocab)[-1:])
    if roll < 0.56:
        return TermInSetQuery(tuple(sorted({rng.choice(vocab) for _ in range(3)})))
    if roll < 0.58:
        lo, hi = sorted((rng.choice(vocab), rng.choice(vocab)))
        return TermRangeQuery(lo, hi, rng.random() < 0.5, rng.random() < 0.5)
    if roll < 0.59:
        return MatchAllDocsQuery()
    must = [_random_query(rng, vocab, depth + 1) for _ in range(rng.randint(0, 2))]
    should = [_random_query(rng, vocab, depth + 1) for _ in range(rng.randint(0, 3))]
    filt = [TermQuery(rng.choice(vocab))] if rng.random() < 0.3 else []
    must_not = [TermQuery(rng.choice(vocab))] if rng.random() < 0.3 else []
    msm = rng.randint(0, max(len(should), 1)) if should and rng.random() < 0.4 else 0
    if not (must or should or filt):
        should = [TermQuery(rng.choice(vocab))]
    return BooleanQuery(must, should, filt, must_not, msm)


@pytest.mark.parametrize("seed", SEEDS)
def test_random_boolean_trees_rank_identical(searcher, oracle_index, seed):
    _check_boolean_trees(searcher, oracle_index, seed)


@pytest.mark.parametrize("seed", SEEDS)
def test_random_boolean_trees_rank_identical_spark_route(
        spark_route, oracle_index, seed):
    _check_boolean_trees(spark_route, oracle_index, seed)


def _check_boolean_trees(searcher, oracle_index, seed):
    rng = random.Random(seed)
    vocab = sorted(oracle_index.postings)
    common = sorted(vocab, key=lambda t: -oracle_index.doc_freq(t))[:40]
    pool = common + [rng.choice(vocab) for _ in range(40)] + ["zz-absent-term"]

    checked = 0
    for i in range(N_QUERIES):
        q = _random_query(rng, pool)
        k = rng.choice([3, 10, 50])
        oq = expand_multi_term(rewrite_fixpoint(q), vocab)
        expect = [
            (d, np.float32(s)) for d, s in oracle_index.search(rewrite_fixpoint(oq), k)
        ]
        got = [
            (r["doc_id"], np.float32(r["score"]))
            for r in searcher.search(q, k).collect()
        ]
        assert got == expect, f"query {i} (seed {seed}): {q!r}"
        checked += 1
    assert checked == N_QUERIES


@pytest.mark.parametrize("seed", SEEDS)
def test_random_flat_trees_through_search_many(searcher, oracle_index, seed):
    """Batched-path coverage for the randomized shapes: every flat tree the
    generator produces (after rewrite + expansion) runs through search_many
    in ONE workload and must be bit-identical to the scalar oracle — the
    filter-only-NaN bug lived exactly in this path."""
    _check_flat_batch(searcher, oracle_index, seed)


@pytest.mark.parametrize("seed", SEEDS)
def test_random_flat_trees_through_search_many_spark_route(
        spark_route, oracle_index, seed):
    _check_flat_batch(spark_route, oracle_index, seed)


def _check_flat_batch(searcher, oracle_index, seed):
    rng = random.Random(seed ^ 0x5EA11)
    vocab = sorted(oracle_index.postings)
    common = sorted(vocab, key=lambda t: -oracle_index.doc_freq(t))[:40]
    pool = common + [rng.choice(vocab) for _ in range(40)] + ["zz-absent-term"]

    k = 15
    workload = {}
    expects = {}
    tries = 0
    while len(workload) < 12 and tries < 200:
        tries += 1
        q = _random_query(rng, pool)
        rq = rewrite_fixpoint(
            searcher._expand_multi_term(rewrite_fixpoint(q)))
        if isinstance(rq, TermQuery):
            rq = BooleanQuery(must=[rq])
        if not (isinstance(rq, BooleanQuery) and searcher._is_flat(rq)):
            continue
        name = f"q{len(workload)}"
        workload[name] = q
        oq = expand_multi_term(rewrite_fixpoint(q), vocab)
        expects[name] = [
            (d, np.float32(s))
            for d, s in oracle_index.search(rewrite_fixpoint(oq), k)
        ]
    assert len(workload) >= 8, "generator stopped producing flat trees"
    got: dict[str, list] = {name: [] for name in workload}
    for r in searcher.search_many(workload, k).collect():
        got[r["query"]].append((r["doc_id"], np.float32(r["score"])))
    for name in workload:
        assert got[name] == expects[name], (name, workload[name])

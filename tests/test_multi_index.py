"""MultiIndexSearcher (MultiReader analog) — the contract is bit-exact
score identity to ONE index built over the concatenated corpus: composite
df/doc_count/avgdl equal the combined index's by construction, and per-doc
tf/norm are leaf-local facts, so every weight and every score must match
to the float32 bit."""

import random

import numpy as np
import pytest

from lucene_spark.query.ast import (
    BooleanQuery, BoostQuery, MatchAllDocsQuery, TermQuery,
)
from lucene_spark.query.multi import MultiIndexSearcher
from lucene_spark.query.search import IndexSearcher


@pytest.fixture(scope="module")
def split_indexes(spark, small_corpus, built_index, tmp_path_factory):
    """Two leaf indexes over a conv_id split of the SAME corpus the shared
    built_index fixture covers (same analyzer/config family)."""
    from lucene_spark.index.build import IndexConfig, build_index
    from lucene_spark.index.merge import merge_index

    convs = sorted(small_corpus.conv_id.unique())
    cut = convs[len(convs) // 2]
    base = tmp_path_factory.mktemp("multi")
    dirs = []
    for i, part in enumerate((
        small_corpus[small_corpus.conv_id < cut],
        small_corpus[small_corpus.conv_id >= cut],
    )):
        d = str(base / f"leaf{i}")
        build_index(spark, spark.createDataFrame(part), d,
                    IndexConfig(num_segments=3, term_buckets=8,
                                hot_term_df=64))
        merge_index(spark, d)
        dirs.append(d)
    return dirs


def _hits(df):
    return [(int(r["doc_id"]), np.float32(r["score"])) for r in df.collect()]


def test_multi_equals_combined_index(spark, built_index, split_indexes):
    combined = IndexSearcher(spark, built_index)
    multi = MultiIndexSearcher(spark, split_indexes)

    # composite stats equal the combined index's
    assert multi.doc_count == combined.doc_count
    assert multi.sum_ttf == combined.sum_ttf
    assert multi.docmap().count() == combined.doc_count
    # docBase re-basing is a bijection onto [0, doc_count)
    ids = [r["doc_id"] for r in multi.docmap().select("doc_id").collect()]
    assert sorted(ids) == list(range(multi.doc_count))

    vocab = sorted(
        r["term"] for r in combined.term_dict.select("term").collect())
    common = [r["term"] for r in combined.term_dict
              .orderBy("doc_freq", ascending=False).limit(6).collect()]
    t0, t1, t2 = common[0], common[1], common[2]

    # NOTE: doc IDs differ between the two (combined assigns by global
    # (conv_id, turn_idx); multi re-bases leaf-local ids) — but the split
    # is a conv_id PREFIX cut and both orderings are (conv_id, turn_idx)
    # lexicographic, so the mapping is the identity and scores+ids match.
    queries = [
        TermQuery(t0),
        BoostQuery(TermQuery(t1), 2.5),
        MatchAllDocsQuery(),
        BooleanQuery(must=[TermQuery(t0), TermQuery(t1)]),
        BooleanQuery(should=[TermQuery(t0), TermQuery(t1), TermQuery(t2)],
                     min_should_match=2),
        BooleanQuery(must=[TermQuery(t0)], must_not=[TermQuery(t2)]),
        BooleanQuery(filter=[TermQuery(t0)]),
        TermQuery("zz-absent"),
    ]
    rng = random.Random(20260818)
    pool = common + [rng.choice(vocab) for _ in range(10)]
    for _ in range(6):  # random flat trees on top of the hand set
        groups = {
            kind: [TermQuery(rng.choice(pool))
                   for _ in range(rng.randint(0, 2))]
            for kind in ("must", "should", "filter", "must_not")
        }
        if not any(groups.values()):
            groups["should"] = [TermQuery(rng.choice(pool))]
        queries.append(BooleanQuery(
            groups["must"], groups["should"], groups["filter"],
            groups["must_not"]))

    for q in queries:
        for k in (5, 25):
            got = _hits(multi.search(q, k))
            want = _hits(combined.search(q, k))
            assert got == want, q
    # composite count (Weight#count summed over leaves)
    assert multi.count(TermQuery(t0)) == combined.count(TermQuery(t0))
    assert multi.count(MatchAllDocsQuery()) == combined.doc_count


def test_multi_rejects_non_flat(spark, split_indexes):
    from lucene_spark.query.ast import PhraseQuery

    multi = MultiIndexSearcher(spark, split_indexes)
    with pytest.raises(ValueError, match="flat"):
        multi.search(PhraseQuery(("a", "b")), 5)


def test_multi_match_no_docs_and_stats_one_job(spark, split_indexes):
    from lucene_spark.query.ast import MatchNoDocsQuery

    multi = MultiIndexSearcher(spark, split_indexes)
    # msm > |should| rewrites to MatchNoDocs -> empty result, not a raise
    q = BooleanQuery(should=[TermQuery("x")], min_should_match=2)
    assert multi.search(q, 10).count() == 0
    assert multi.search(MatchNoDocsQuery(), 10).count() == 0


def test_multi_composite_stats_equal_summed_spark_reads(spark, split_indexes):
    """Composite (df, ttf) from the leaves' driver-side lookups equals the
    per-term sum of a Spark read over every leaf's term_dict."""
    from pyspark.sql import functions as F

    from lucene_spark.index.merge import read_term_dict

    multi = MultiIndexSearcher(spark, split_indexes)
    union = read_term_dict(spark, split_indexes[0])
    for d in split_indexes[1:]:
        union = union.unionByName(read_term_dict(spark, d))
    want = {
        r["term"]: (int(r["df"]), int(r["ttf"]))
        for r in union.groupBy("term").agg(
            F.sum("doc_freq").alias("df"),
            F.sum("total_term_freq").alias("ttf")).collect()
    }
    rng = random.Random(9)
    terms = rng.sample(sorted(want), 30) + ["zzzz-absent"]
    assert multi.term_stats(terms + terms[:3]) == {t: want[t] for t in terms
                                                    if t in want}
    assert multi.term_stats(sorted(want)) == want
    assert multi.term_stats([]) == {}

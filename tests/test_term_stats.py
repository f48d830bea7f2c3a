"""Driver-side term statistics and the per-query Spark job budget.

``IndexSearcher.term_stats`` reads ``term_dict/`` with pyarrow on the
driver instead of running a Spark job. It must return exactly what a Spark
read of the same directory returns, also right after a commit has swapped
that directory. The job pins fail as soon as a query path gains a job:
queries small enough for the driver-local route run none, and the Spark
route (forced with an instance-level ``LOCAL_POSTINGS_MAX = 0``) keeps its
own pins."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from lucene_spark.index.build import IndexConfig, build_index
from lucene_spark.index.merge import merge_index, read_term_dict
from lucene_spark.index.update import update_docs
from lucene_spark.query.ast import BooleanQuery, TermQuery
from lucene_spark.query.search import IndexSearcher
from lucene_spark.sources.transcripts import generate_pandas


def _spark_rows(spark, index_dir, terms):
    """term -> (doc_freq, total_term_freq, num_blocks) through Spark."""
    rows = (read_term_dict(spark, index_dir)
            .filter(F.col("term").isin(list(set(terms)))).collect())
    return {r["term"]: (r["doc_freq"], r["total_term_freq"], r["num_blocks"])
            for r in rows}


def test_driver_term_stats_equal_spark_read(spark, built_index):
    s = IndexSearcher(spark, built_index)
    vocab = sorted(r["term"] for r in s.term_dict.select("term").collect())
    rng = random.Random(4)
    assert s.term_stats([]) == {}
    for n in (1, 2, 7, 40, len(vocab)):
        terms = rng.sample(vocab, n)
        # absent terms (one sorting before, one after and one inside the
        # vocabulary's range) and duplicates
        terms += ["", "zzzz-absent", vocab[0] + "\x00", terms[0], terms[-1]]
        rng.shuffle(terms)
        want = _spark_rows(spark, built_index, terms)
        assert s._term_dict_rows(terms) == want
        assert s.term_stats(terms) == {t: v[:2] for t, v in want.items()}
    assert s.term_stats(["zzzz-absent", "zzzz-absent"]) == {}


def test_reopened_searcher_stats_follow_update_commit(spark, tmp_path_factory):
    """update_docs swaps term_dict for a new generation; a searcher opened
    after the commit reads the swapped directory, new terms included."""
    base = generate_pandas(n_convs=20, seed=51, vocab_size=200, max_turns=5)
    batch = base[base["conv_id"] == sorted(base["conv_id"].unique())[0]].copy()
    batch["text"] = "qqmarker " + batch["text"]
    idx = str(tmp_path_factory.mktemp("tsupd") / "idx")
    build_index(spark, spark.createDataFrame(base), idx,
                IndexConfig(num_segments=2, term_buckets=4, hot_term_df=64))
    merge_index(spark, idx)
    before = IndexSearcher(spark, idx).term_stats(["qqmarker"])
    assert before == {}

    update_docs(spark, idx, spark.createDataFrame(batch), batch_id=1)
    s = IndexSearcher(spark, idx)
    vocab = [r["term"] for r in read_term_dict(spark, idx).select("term")
             .collect()]
    assert "qqmarker" in vocab
    want = _spark_rows(spark, idx, vocab + ["zzzz-absent"])
    assert s._term_dict_rows(vocab + ["zzzz-absent"]) == want
    assert s.term_stats(["qqmarker"]) == {
        "qqmarker": (len(batch), len(batch))}


def _jobs_of(spark, action) -> int:
    """Spark jobs ``action`` runs, counted by job group once the listener
    bus has delivered every event to the status tracker."""
    sc = spark.sparkContext
    group = f"jobpin-{random.getrandbits(48):x}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def pin_terms(spark, built_index):
    s = IndexSearcher(spark, built_index)
    return [r["term"] for r in s.term_dict.orderBy(
        F.desc("doc_freq"), "term").limit(12).collect()]


def _spark_route(spark, index_dir) -> IndexSearcher:
    """A searcher whose term and flat-Boolean queries all take the Spark
    route (no driver-local execution)."""
    s = IndexSearcher(spark, index_dir)
    s.LOCAL_POSTINGS_MAX = 0
    return s


def test_term_query_runs_two_jobs(spark, built_index, pin_terms):
    s = _spark_route(spark, built_index)
    for t in (pin_terms[0], pin_terms[-1]):
        assert _jobs_of(spark, lambda: s.search(TermQuery(t), 10).collect()) == 2
    assert _jobs_of(spark, lambda: s.term_stats(pin_terms)) == 0


def test_two_clause_conjunction_runs_three_jobs(spark, built_index, pin_terms):
    s = _spark_route(spark, built_index)
    q = BooleanQuery(must=[TermQuery(pin_terms[0]), TermQuery(pin_terms[-1])])
    assert _jobs_of(spark, lambda: s.search(q, 10).collect()) == 3


def test_small_queries_run_no_job(spark, built_index, pin_terms):
    """Below LOCAL_POSTINGS_MAX a term query, a two-clause conjunction and
    a search_many batch run on the driver: zero Spark jobs, from building
    the frame through collect()."""
    s = IndexSearcher(spark, built_index)
    q = BooleanQuery(must=[TermQuery(pin_terms[0]), TermQuery(pin_terms[-1])])
    for t in (pin_terms[0], pin_terms[-1]):
        assert _jobs_of(spark, lambda: s.search(TermQuery(t), 10).collect()) == 0
    assert _jobs_of(spark, lambda: s.search(q, 10).collect()) == 0
    batch = {"term": TermQuery(pin_terms[0]), "conj": q,
             "none": TermQuery("zzzz-absent")}
    assert _jobs_of(spark, lambda: s.search_many(batch, 10).collect()) == 0


def test_empty_results_run_no_job(spark, built_index):
    """A query that matches nothing before any scan returns a local empty
    frame: collecting it runs no Spark job."""
    from lucene_spark.query.ast import MatchNoDocsQuery
    from lucene_spark.query.multi import MultiIndexSearcher

    s = IndexSearcher(spark, built_index)
    multi = MultiIndexSearcher(spark, [built_index])
    for searcher in (s, multi):
        hits = searcher.search(MatchNoDocsQuery(), 10)
        assert _jobs_of(spark, hits.collect) == 0
        assert hits.collect() == []
        assert hits.schema.simpleString() == "struct<doc_id:bigint,score:float>"

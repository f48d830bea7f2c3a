"""Driver-side term statistics and the per-query Spark job budget.

``IndexSearcher.term_stats`` reads the committed term statistics (the
base ``term_dict/`` plus the appended segments' deltas) with pyarrow on
the driver instead of running a Spark job. It must return exactly what
the Spark read of the same view (``merge.read_term_dict``) returns, also
right after a commit. The job pins fail as soon as a query, build, merge,
update or searcher-open path gains a job: queries small enough for the
driver-local route run none, and the Spark route (forced with an
instance-level ``LOCAL_POSTINGS_MAX = 0``) keeps its own pins."""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_spark.index.build import (
    IndexConfig, build_index, build_index_files,
)
from lucene_spark.index.merge import merge_index, read_term_dict
from lucene_spark.index.update import update_docs
from lucene_spark.query.ast import (
    BooleanQuery, PrefixQuery, RegexpQuery, TermQuery, WildcardQuery,
)
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
    """update_docs writes its segment's term statistics beside the base; a
    searcher opened after the commit sums them in, new terms included."""
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


def test_small_flat_count_runs_no_job(spark, built_index, pin_terms):
    """count() of a flat two-clause Boolean below LOCAL_POSTINGS_MAX counts
    the driver-local matches: zero Spark jobs. Above the bound it counts
    the Spark plan's matches, with the same result."""
    q = BooleanQuery(must=[TermQuery(pin_terms[0])],
                     should=[TermQuery(pin_terms[-1])])
    s = IndexSearcher(spark, built_index)
    n = []
    assert _jobs_of(spark, lambda: n.append(s.count(q))) == 0
    assert n[0] == _spark_route(spark, built_index).count(q) > 0


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


def _bare_multi_term_queries(t: str):
    """A bare Prefix, Wildcard, Regexp (top-level intersection) and nested
    intersection Regexp query, each matching ``t``."""
    return [PrefixQuery(t[:3]), WildcardQuery(t[:2] + "?*"),
            RegexpQuery(t[:2] + "[a-z]*&.*" + t[-1] + ".*"),
            RegexpQuery("(" + t[:2] + ".*&.*" + t[-1] + ")")]


def test_small_multi_term_queries_run_no_job(spark, built_index, pin_terms):
    """Below LOCAL_POSTINGS_MAX a bare Prefix, Wildcard or Regexp query
    expands from the term dictionary and runs on the driver: zero Spark
    jobs for search(), count() and a search_many batch holding it."""
    s = IndexSearcher(spark, built_index)
    for q in _bare_multi_term_queries(pin_terms[-1]):
        assert _jobs_of(spark, lambda: s.search(q, 10).collect()) == 0, q
        n = []
        assert _jobs_of(spark, lambda: n.append(s.count(q))) == 0, q
        assert n[0] > 0, q
        batch = {"multi": q, "term": TermQuery(pin_terms[0])}
        assert _jobs_of(
            spark, lambda: s.search_many(batch, 10).collect()) == 0, q


def test_wildcard_conjunction_runs_as_prefix_conjunction(spark, built_index,
                                                         pin_terms):
    """A Wildcard expands like a Prefix, so must=[Wildcard, Term] runs as
    many jobs as must=[Prefix, Term]."""
    s = IndexSearcher(spark, built_index)
    t, hot = pin_terms[-1], TermQuery(pin_terms[0])
    jobs = [_jobs_of(spark, lambda: s.search(
        BooleanQuery(must=[q, hot]), 10).collect())
        for q in (PrefixQuery(t[:2]), WildcardQuery(t[:2] + "*"))]
    assert jobs[0] == jobs[1], jobs


def test_bare_prefix_join_path_job_count(spark, built_index, pin_terms):
    """Above the bound a bare prefix keeps the expansion join's plan; its
    df comes from the committed term statistics, with no aggregation. A
    Wildcard or Regexp expansion join runs no more jobs."""
    s = _spark_route(spark, built_index)
    queries = _bare_multi_term_queries(pin_terms[-1])
    assert _jobs_of(spark, lambda: s.search(queries[0], 10).collect()) == 4
    for q in queries[1:]:
        assert _jobs_of(spark, lambda: s.search(q, 10).collect()) <= 4, q


@pytest.mark.parametrize("positions,build_jobs,merge_jobs", [
    (False, 2, 7), (True, 2, 10)])
def test_build_and_merge_job_counts(spark, small_corpus, tmp_path_factory,
                                    positions, build_jobs, merge_jobs):
    """The file-aligned build and the merge of the test corpus, split into
    four conv_id-ranged parquet files, each run a fixed number of jobs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path_factory.mktemp("jobpin-build")
    src = root / "corpus"
    src.mkdir()
    frame = small_corpus.sort_values(["conv_id", "turn_idx"])
    convs = sorted(frame["conv_id"].unique())
    n = len(convs)
    for i in range(4):
        part = frame[frame["conv_id"].isin(convs[i * n // 4:(i + 1) * n // 4])]
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                       str(src / f"part-{i}.parquet"))
    idx = str(root / "idx")
    cfg = IndexConfig(term_buckets=8, hot_term_df=64, positions=positions)
    assert _jobs_of(spark, lambda: build_index_files(
        spark, str(src), idx, cfg)) == build_jobs
    assert _jobs_of(spark, lambda: merge_index(spark, idx)) == merge_jobs


@pytest.fixture(scope="module")
def small_update(spark, tmp_path_factory):
    """(index dir, Spark jobs of one small update_docs on it): the batch
    replaces one conversation's turns and inserts a new conversation."""
    import pandas as pd

    base = generate_pandas(n_convs=20, seed=52, vocab_size=200, max_turns=5)
    convs = sorted(base["conv_id"].unique())
    repl = base[base["conv_id"] == convs[0]].copy()
    repl["text"] = "qqrepl " + repl["text"]
    new = base[base["conv_id"] == convs[1]].copy()
    new["conv_id"] = "zz-new"
    idx = str(tmp_path_factory.mktemp("jobpin-update") / "idx")
    build_index(spark, spark.createDataFrame(base), idx,
                IndexConfig(num_segments=2, term_buckets=4, hot_term_df=64))
    merge_index(spark, idx)
    batch = spark.createDataFrame(pd.concat([repl, new], ignore_index=True))
    return idx, _jobs_of(spark, lambda: update_docs(spark, idx, batch,
                                                    batch_id=1))


def test_small_update_docs_job_count(small_update):
    """update_docs writes only its segment's term statistics (its block
    metadata's aggregate and one write): no schema inference, rewrite or
    swap of the base term_dict, which took 23 jobs here."""
    assert small_update[1] == 20


def test_searcher_open_runs_no_job(spark, small_update):
    """Opening a searcher reads postings and term statistics with explicit
    schemas: no schema-inference job."""
    assert _jobs_of(spark, lambda: IndexSearcher(spark, small_update[0])) == 0


def test_explain_runs_no_job(spark, built_index, small_update, pin_terms):
    """explain() reads the doc's norm, its tombstone and the query's blocks
    on the driver: no Spark job, with or without deletes, and its value
    is the searched score."""
    for idx, q in (
            (built_index, BooleanQuery(must=[TermQuery(pin_terms[0])],
                                       should=[TermQuery(pin_terms[-1])])),
            (small_update[0], BooleanQuery(should=[TermQuery("qqrepl"),
                                                   TermQuery(pin_terms[0])]))):
        s = IndexSearcher(spark, idx)
        hits = s.search(q, 5).collect()
        assert hits
        for h in hits:
            got = []
            assert _jobs_of(spark, lambda: got.append(
                s.explain(q, int(h["doc_id"])))) == 0
            assert got[0]["match"]
            assert np.float32(got[0]["value"]) == np.float32(h["score"])
    s = IndexSearcher(spark, small_update[0])
    dead = int(s._tombstones()[0])
    got = []
    assert _jobs_of(spark, lambda: got.append(
        s.explain(BooleanQuery(should=[TermQuery(pin_terms[0])]), dead))) == 0
    assert got[0]["deleted"] and not got[0]["match"]

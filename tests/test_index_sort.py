"""Index sorting (IndexWriterConfig.setIndexSort analog) + early-terminating
search_sorted: doc order == sort-key order, the early path is bit-identical
to the exhaustive sort, and block pruning actually reaches the parquet scan.
Reference semantics: ``core/index/Sorter.java``,
``core/search/TopFieldCollector.java:37`` (early termination on a
sort-congruent index)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def sorted_corpus():
    """Transcript corpus whose ts has HEAVY ties (7 distinct values) so the
    tie-break paths — including the desc boundary run — are exercised."""
    from lucene_spark.sources.transcripts import generate_pandas

    pdf = generate_pandas(n_convs=50, seed=13, vocab_size=400, max_turns=10)
    h = pd.util.hash_pandas_object(
        pdf["conv_id"].astype(str) + ":" + pdf["turn_idx"].astype(str),
        index=False,
    ).to_numpy(np.uint64)
    pdf["ts"] = pd.Timestamp("2026-01-01") + pd.to_timedelta(
        (h % 7).astype(np.int64), unit="h"
    )
    return pdf


@pytest.fixture(scope="module")
def sorted_index(spark, sorted_corpus, tmp_path_factory):
    from lucene_spark.index.build import IndexConfig, build_index
    from lucene_spark.index.merge import merge_index

    idx = str(tmp_path_factory.mktemp("isort") / "idx")
    cfg = IndexConfig(num_segments=4, term_buckets=4, index_sort="ts")
    build_index(spark, spark.createDataFrame(sorted_corpus), idx, cfg)
    merge_index(spark, idx)
    return idx


def _searcher(spark, idx):
    from lucene_spark.query.search import IndexSearcher

    return IndexSearcher(spark, idx)


def test_doc_order_is_sort_order(spark, sorted_index):
    s = _searcher(spark, sorted_index)
    rows = s.docmap().select("doc_id", "ts", "conv_id", "turn_idx").collect()
    rows.sort(key=lambda r: r["doc_id"])
    keys = [(r["ts"], r["conv_id"], r["turn_idx"]) for r in rows]
    assert keys == sorted(keys)
    assert [r["doc_id"] for r in rows] == list(range(len(rows)))


def test_early_terminated_equals_exhaustive(spark, sorted_index):
    """search_sorted routes through the early path (index_sort congruent)
    and must return EXACTLY what the exhaustive path returns, both
    directions, including desc ties crossing the probe boundary (min span
    shrunk so growth + the tie-run extension actually run)."""
    from lucene_spark.query.ast import BooleanQuery, MatchAllDocsQuery, TermQuery

    s = _searcher(spark, sorted_index)
    s.SORTED_PROBE_MIN_SPAN = 16  # force probe growth on this small corpus
    sx = _searcher(spark, sorted_index)
    sx.manifest["config"]["index_sort"] = None  # exhaustive twin

    term = s.term_dict.orderBy(F.desc("doc_freq")).first()["term"]
    rare = s.term_dict.orderBy(F.asc("doc_freq"), F.asc("term")).first()["term"]
    queries = [
        TermQuery(term),
        TermQuery(rare),
        BooleanQuery(must=[TermQuery(term)], should=[TermQuery(rare)]),
        MatchAllDocsQuery(),
    ]
    for q in queries:
        for asc in (True, False):
            a = [(r["doc_id"], r["ts"], np.float32(r["score"]))
                 for r in s.search_sorted(q, "ts", 25, ascending=asc).collect()]
            b = [(r["doc_id"], r["ts"], np.float32(r["score"]))
                 for r in sx.search_sorted(q, "ts", 25, ascending=asc).collect()]
            assert a == b, (q, asc)
            assert len(a) == min(25, sx.count(q) if not isinstance(
                q, MatchAllDocsQuery) else sx.doc_count)


def test_early_path_not_taken_when_incongruent(spark, sorted_index):
    """Sorting by a different field, multi-field chains, and unordered
    (appended) indexes must all fall back to the exhaustive path — asserted
    by results matching the exhaustive twin (and by the probe never firing:
    the early path would KeyError on a docmap-absent field)."""
    from lucene_spark.query.ast import TermQuery

    s = _searcher(spark, sorted_index)
    term = s.term_dict.orderBy(F.desc("doc_freq")).first()["term"]
    # different field: exhaustive
    r1 = s.search_sorted(TermQuery(term), "field_len", 10, ascending=False)
    assert r1.count() == 10
    # multi-field: exhaustive
    r2 = s.search_sorted(TermQuery(term), [("ts", True), ("score", False)], 10)
    assert r2.count() == 10
    # unordered manifest: exhaustive, same rows as the early path's answer
    a = [(r["doc_id"], np.float32(r["score"]))
         for r in s.search_sorted(TermQuery(term), "ts", 10).collect()]
    s.manifest["ordered"] = False
    b = [(r["doc_id"], np.float32(r["score"]))
         for r in s.search_sorted(TermQuery(term), "ts", 10).collect()]
    assert a == b


def test_block_range_restriction_pushed_to_scan(spark, sorted_index):
    """The docID-range restriction must reach the postings parquet scan as a
    pushed filter on first_doc (never decode blocks wholly past the
    cutoff)."""
    from lucene_spark.query.ast import BooleanQuery, TermQuery

    s = _searcher(spark, sorted_index)
    term = s.term_dict.orderBy(F.desc("doc_freq")).first()["term"]
    df = s._boolean(BooleanQuery(must=[TermQuery(term)]),
                    np.float32(1.0), doc_hi=100)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "first_doc" in plan
    # read the scan's Filter node, not the PushedFilters summary — the
    # summary string truncates now that the commit-point segment filter
    # precedes first_doc in the pushed list (r5 reader visibility)
    import re

    assert re.search(r"first_doc#\d+L?\s*<=\s*100", plan), plan


def test_index_sort_rejects_file_build_and_bad_column(spark, sorted_corpus,
                                                      tmp_path):
    from lucene_spark.index.build import IndexConfig, build_index, build_index_files

    with pytest.raises(ValueError, match="file-aligned"):
        build_index_files(spark, str(tmp_path / "in"), str(tmp_path / "idx"),
                          IndexConfig(index_sort="ts"))
    with pytest.raises(ValueError, match="index_sort"):
        build_index(spark, spark.createDataFrame(sorted_corpus),
                    str(tmp_path / "idx2"), IndexConfig(index_sort="nope"))


def test_index_sort_rejects_null_keys(spark, tmp_path):
    """A NULL sort key would cast silently to INT64_MIN in the shard path
    and corrupt docID/sort congruence — the build must raise."""
    import pandas as pd
    import pytest

    from lucene_spark.index.build import IndexConfig, build_index

    rows = pd.DataFrame({
        "conv_id": ["a", "b"], "turn_idx": [0, 0], "role": ["u", "u"],
        "text": ["x", "y"], "tool": [None, None],
        "ts": [pd.Timestamp("2026-01-01"), pd.NaT],
    })
    with pytest.raises(ValueError, match="NULL"):
        build_index(spark, spark.createDataFrame(rows),
                    str(tmp_path / "ns"),
                    IndexConfig(num_segments=1, index_sort="ts"))


def test_index_sort_rejects_float_keys(spark, tmp_path):
    """_sort_key_col/_sort_key_np key on int64, so float keys would order
    docIDs by floor(value) and silently break the ASC early-termination
    probe (no tie-run extension) — the build must raise at config time."""
    import pandas as pd
    import pytest

    from lucene_spark.index.build import IndexConfig, build_index

    rows = pd.DataFrame({
        "conv_id": ["a", "b"], "turn_idx": [0, 0], "role": ["u", "u"],
        "text": ["x", "y"], "tool": [None, None],
        "score_f": [5.1, 5.9],
    })
    with pytest.raises(ValueError, match="float/double"):
        build_index(spark, spark.createDataFrame(rows),
                    str(tmp_path / "fs"),
                    IndexConfig(num_segments=1, index_sort="score_f"))

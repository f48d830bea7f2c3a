"""Global merge (index/merge.py) checked block by block against the
per-segment ``postings_local`` it reads, with the scalar ``decode_block``
as the oracle: cold terms are re-gathered into dense merged blocks, hot
terms' blocks pass through byte-identical."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from lucene_spark.functions.codec import BLOCK_SIZE, decode_block
from lucene_spark.index.build import IndexConfig, build_index
from lucene_spark.index.merge import MERGED_SEGMENT_ID, _remerge_bucket, merge_index
from lucene_spark.sources.transcripts import generate_pandas

_ORDER = ["segment_id", "block_id"]
_BLOCK_COLS = ["segment_id", "block_id", "first_doc", "last_doc", "num_docs",
               "ttf", "data", "impact_freqs", "impact_norms"]


def _build(spark, idx, cfg, **corpus):
    pdf = generate_pandas(**corpus)
    build_index(spark, spark.createDataFrame(pdf), idx, IndexConfig(**cfg))
    merge_index(spark, idx)


def _table(idx, name, part):
    return (pq.read_table(os.path.join(idx, name)).to_pandas()
            .drop(columns=part).sort_values(["term", *_ORDER], ignore_index=True))


def _rows(frame):
    out = frame[_BLOCK_COLS].copy()
    for c in ("impact_freqs", "impact_norms"):
        out[c] = out[c].map(list)
    return out.values.tolist()


def _decode(frame):
    parts = [decode_block(d, int(n), int(f)) for d, n, f in
             zip(frame["data"], frame["num_docs"], frame["first_doc"])]
    return [np.concatenate([p[k] for p in parts]) for k in range(3)]


def test_merge_regathers_cold_terms_and_passes_hot_through(spark,
                                                           tmp_path_factory):
    cfg = dict(num_segments=3, term_buckets=4, hot_term_df=40)
    idx = str(tmp_path_factory.mktemp("merge") / "idx")
    _build(spark, idx, cfg, n_convs=25, seed=71, vocab_size=150, max_turns=6)
    local = _table(idx, "postings_local", "segment")
    post = _table(idx, "postings", "term_bucket")
    td = pq.read_table(os.path.join(idx, "term_dict")).to_pandas()
    hot = set(td.term[td.doc_freq >= cfg["hot_term_df"]])
    assert hot and set(td.term) - hot
    assert set(post.term) == set(local.term) == set(td.term)

    post_by_term = dict(tuple(post.groupby("term", sort=False)))
    gathered = 0
    for term, lg in local.groupby("term", sort=False):
        pg = post_by_term[term]
        if term in hot:
            assert _rows(pg) == _rows(lg), term
            continue
        gathered += len(lg) > 1
        assert (pg["segment_id"] == MERGED_SEGMENT_ID).all(), term
        assert pg["block_id"].tolist() == list(range(len(pg))), term
        assert (pg["num_docs"].iloc[:-1] == BLOCK_SIZE).all(), term
        for got, want in zip(_decode(pg), _decode(lg)):
            np.testing.assert_array_equal(got, want, err_msg=term)
    assert gathered  # some cold term really was re-gathered from many blocks


def test_merge_with_no_cold_terms(spark, tmp_path_factory):
    """hot_term_df=1 makes every term hot: the re-gather side is empty and
    the merged postings are exactly the per-segment blocks."""
    idx = str(tmp_path_factory.mktemp("allhot") / "idx")
    _build(spark, idx, dict(num_segments=2, term_buckets=4, hot_term_df=1),
           n_convs=6, seed=72, vocab_size=80, max_turns=4)
    assert (_rows(_table(idx, "postings", "term_bucket"))
            == _rows(_table(idx, "postings_local", "segment")))


def test_remerge_empty_bucket():
    out = _remerge_bucket((0,), pd.DataFrame(columns=["term", *_BLOCK_COLS]))
    assert out.empty
    assert list(out.columns) == ["term", *_BLOCK_COLS]

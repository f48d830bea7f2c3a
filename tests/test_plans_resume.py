"""Physical-plan properties (pushdown/pruning/codegen) + file-aligned build
resume & fallback behavior."""

from __future__ import annotations

import os
import shutil

import pytest

from pyspark.sql import functions as F

from lucene_spark.index.build import (
    IndexConfig,
    build_index_files,
    files_are_aligned,
    load_manifest,
    plan_input_files,
)
from lucene_spark.index.merge import merge_index
from lucene_spark.query.search import IndexSearcher
from lucene_spark.sources.transcripts import generate_distributed


def _plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_postings_scan_pushdown(spark, built_index):
    """A term lookup must prune partitions (term_bucket), push the term
    filter to parquet (row-group skipping on the sorted term column), and
    prune columns (block payloads only; impacts/positions untouched)."""
    s = IndexSearcher(spark, built_index)
    from lucene_spark.index.merge import term_bucket_of

    term = s.term_dict.limit(1).collect()[0]["term"]
    b = term_bucket_of(term, s.buckets)
    scan = s.postings.filter(
        (F.col("term_bucket") == b) & (F.col("term") == term)
    ).select("num_docs", "first_doc", "data")
    plan = _plan_of(scan)
    assert f"PartitionFilters: [isnotnull(term_bucket" in plan
    assert f"(term_bucket" in plan and f"= {b})" in plan
    # the pushed list now leads with the commit-point segment filter
    # (r5 reader visibility), so match the term push inside it rather
    # than the exact list
    assert "PushedFilters: [" in plan
    assert f"EqualTo(term,{term})" in plan
    assert ("ReadSchema: struct<term:string,segment_id:int,"
            "first_doc:bigint,num_docs:int,data:binary>" in plan)
    assert "WholeStageCodegen" in plan or "*(1)" in plan
    # impact metadata and positions never enter the read schema
    assert "impact_freqs" not in plan and "positions" not in plan


def test_term_dict_rowgroup_pushdown(spark, built_index):
    s = IndexSearcher(spark, built_index)
    term = s.term_dict.limit(1).collect()[0]["term"]
    plan = _plan_of(s.term_dict.filter(F.col("term") == term))
    assert f"EqualTo(term,{term})" in plan


@pytest.fixture(scope="module")
def aligned_corpus(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("aligned") / "corpus")
    generate_distributed(spark, n_convs=120, seed=9, partitions=4).write.parquet(out)
    return out


def test_aligned_plan_and_resume(spark, aligned_corpus, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("aligned") / "idx")
    plan = plan_input_files(aligned_corpus)
    assert files_are_aligned(plan)
    cfg = IndexConfig(term_buckets=4, hot_term_df=64)
    m1 = build_index_files(spark, aligned_corpus, idx, cfg)
    gen1 = m1["generation"]
    assert len(m1["completed"]) == len(plan)

    # resume: nothing pending, no generation bump, manifest unchanged
    m2 = build_index_files(spark, aligned_corpus, idx, cfg)
    assert m2["generation"] == gen1
    assert m2["completed"].keys() == m1["completed"].keys()

    # partial resume: drop one completed entry -> exactly one segment rebuilt
    from lucene_spark.index.build import write_manifest
    victim = sorted(m2["completed"])[0]
    removed = m2["completed"].pop(victim)
    write_manifest(idx, m2)
    m3 = build_index_files(spark, aligned_corpus, idx, cfg)
    assert m3["generation"] == gen1 + 1
    assert victim in m3["completed"]
    assert m3["completed"][victim]["num_docs"] == removed["num_docs"]

    merge_index(spark, idx)
    from lucene_spark.index.check import check_index
    assert check_index(spark, idx)["ok"]


def test_aligned_build_keeps_offsets(spark, aligned_corpus, tmp_path_factory):
    """The file-aligned build honours the whole IndexConfig, as the shuffle
    build does: an offsets build stores each occurrence's char offsets
    (``starts``/``ends`` beside ``positions``), and a config no build can
    honour raises ValueError before any Spark job runs."""
    import pyarrow.dataset as ds

    from tests.test_term_stats import _jobs_of

    root = tmp_path_factory.mktemp("aligned-offsets")
    idx = str(root / "idx")
    build_index_files(spark, aligned_corpus, idx, IndexConfig(
        term_buckets=4, hot_term_df=64, positions=True, offsets=True))
    cols = ds.dataset(os.path.join(idx, "positions_local"),
                      format="parquet").schema.names
    assert {"positions", "starts", "ends"} <= set(cols), cols
    merge_index(spark, idx)
    tv = IndexSearcher(spark, idx).term_vector(0, with_offsets=True).collect()
    assert tv and all(len(r["starts"]) == r["freq"] for r in tv)

    def bad():
        with pytest.raises(ValueError, match="positions"):
            build_index_files(spark, aligned_corpus, str(root / "bad"),
                              IndexConfig(positions=False, offsets=True))
    assert _jobs_of(spark, bad) == 0


def test_misaligned_input_falls_back(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("misaligned")
    out = str(root / "corpus")
    # two overlapping writes of interleaved conv ranges -> ranges overlap
    df = generate_distributed(spark, n_convs=40, seed=3, partitions=2)
    df.write.parquet(out)
    df.write.mode("append").parquet(out)
    with pytest.raises(ValueError, match="overlap"):
        build_index_files(spark, out, str(root / "idx"), IndexConfig())

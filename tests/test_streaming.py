"""Structured-Streaming incremental append: NRT semantics, exactly-once,
rank identity of the refreshed searcher vs the scalar oracle."""

from __future__ import annotations

import os

import numpy as np
import pytest

from lucene_spark.index.build import IndexConfig, build_index, load_manifest
from lucene_spark.index.check import check_index
from lucene_spark.index.merge import merge_index
from lucene_spark.oracle import OracleIndex
from lucene_spark.query.ast import TermQuery
from lucene_spark.query.search import IndexSearcher
from lucene_spark.sources.transcripts import generate_pandas
from lucene_spark.streaming.append import stream_append


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    idx = str(root / "idx")
    src = str(root / "incoming")
    ckpt = str(root / "ckpt")
    os.makedirs(src)

    base = generate_pandas(n_convs=40, seed=1, vocab_size=500, max_turns=8)
    extra = generate_pandas(n_convs=15, seed=2, vocab_size=500, max_turns=8)
    extra["conv_id"] = "zz-" + extra["conv_id"]  # disjoint id space

    cfg = IndexConfig(num_segments=3, term_buckets=4, hot_term_df=64)
    build_index(spark, spark.createDataFrame(base), idx, cfg)
    merge_index(spark, idx)

    # oracle over base (stable sorted) + appended batch (sorted within batch)
    base_s = base.sort_values(["conv_id", "turn_idx"], kind="mergesort")
    extra_s = extra.sort_values(["conv_id", "turn_idx"], kind="mergesort")
    oracle = OracleIndex.build(
        list(zip(base_s.conv_id, base_s.turn_idx, base_s.text))
        + list(zip(extra_s.conv_id, extra_s.turn_idx, extra_s.text))
    )

    # drop the appended rows as ONE parquet file -> one micro-batch
    spark.createDataFrame(extra).coalesce(1).write.parquet(src, mode="append")
    stream_append(spark, src, idx, ckpt, available_now=True)
    return {"idx": idx, "src": src, "ckpt": ckpt, "oracle": oracle,
            "n_base": len(base), "n_extra": len(extra), "spark": spark}


def test_append_doc_count_and_integrity(spark, setup):
    m = load_manifest(setup["idx"])
    assert m["ordered"] is False
    total = sum(int(v["num_docs"]) for v in m["completed"].values())
    assert total == setup["n_base"] + setup["n_extra"]
    assert any(v.get("appended") for v in m["completed"].values())
    assert check_index(spark, setup["idx"])["ok"]


def test_refreshed_searcher_rank_identity(spark, setup):
    s = IndexSearcher(spark, setup["idx"])  # re-open = refresh
    oracle = setup["oracle"]
    assert s.doc_count == oracle.doc_count
    for term in ["ba", "be", "zo", "da"]:
        got = [
            (r["doc_id"], np.float32(r["score"]))
            for r in s.search(TermQuery(term), 15).collect()
        ]
        exp = [(d, np.float32(sc)) for d, sc in oracle.search(TermQuery(term), 15)]
        assert got == exp, term


def test_multi_batch_append_on_aligned_base(spark, tmp_path_factory):
    """Several micro-batches (maxFilesPerTrigger=4, 8 incoming files) onto a
    base built with the no-shuffle file-aligned path."""
    import pandas as pd

    root = tmp_path_factory.mktemp("ms")
    idx = str(root / "idx")
    src = str(root / "in")
    corpus = str(root / "base")
    os.makedirs(src)

    from lucene_spark.index.build import build_index_files
    from lucene_spark.sources.transcripts import generate_distributed

    generate_distributed(spark, n_convs=60, seed=5, partitions=3).write.parquet(corpus)
    build_index_files(spark, corpus, idx,
                      IndexConfig(term_buckets=4, hot_term_df=64))
    merge_index(spark, idx)
    base_docs = sum(
        int(v["num_docs"]) for v in load_manifest(idx)["completed"].values()
    )

    extra = generate_pandas(n_convs=24, seed=6, vocab_size=400, max_turns=6)
    extra["conv_id"] = "zz-" + extra["conv_id"]
    # 8 single-slice files -> 2 micro-batches at maxFilesPerTrigger=4
    bounds = [0, 3, 6, 9, 12, 15, 18, 21, 24]
    convs = sorted(extra["conv_id"].unique())
    for i in range(8):
        sel = extra[extra["conv_id"].isin(convs[bounds[i]:bounds[i + 1]])]
        spark.createDataFrame(sel).coalesce(1).write.parquet(src, mode="append")

    stream_append(spark, src, idx, str(root / "ckpt"), available_now=True)

    m = load_manifest(idx)
    appended = [v for v in m["completed"].values() if v.get("appended")]
    assert len(appended) >= 2  # at least two micro-batch segments
    total = sum(int(v["num_docs"]) for v in m["completed"].values())
    assert total == base_docs + len(extra)
    assert check_index(spark, idx)["ok"]

    s = IndexSearcher(spark, idx)
    assert s.doc_count == total
    # appended docs are searchable
    tok = extra["text"].str.lower().str.findall(r"[a-z0-9]+").explode().dropna()
    some_term = tok.value_counts().index[0]
    dm = s.docmap().filter(F.col("conv_id").startswith("zz-")).count()
    assert dm == len(extra)


from pyspark.sql import functions as F  # noqa: E402


def test_exactly_once_on_restart(spark, setup):
    before = load_manifest(setup["idx"])["generation"]
    n_seg = len(load_manifest(setup["idx"])["completed"])
    # same checkpoint: the drained batch must NOT be reprocessed
    stream_append(spark, setup["src"], setup["idx"], setup["ckpt"], available_now=True)
    after = load_manifest(setup["idx"])
    assert len(after["completed"]) == n_seg
    assert after["generation"] == before


def test_delta_term_dict_equals_full_recompute(spark, setup):
    """Each append writes its own segment's term statistics; the committed
    view (the base term_dict plus the deltas, summed) must equal a
    from-scratch aggregation over ALL segments' block metadata."""
    from pyspark.sql import functions as F

    from lucene_spark.index.build import read_postings_local
    from lucene_spark.index.merge import read_term_dict

    index_dir = setup["idx"]
    got = (
        read_term_dict(spark, index_dir)
        .select("term", "doc_freq", "total_term_freq", "num_blocks")
        .orderBy("term")
        .collect()
    )
    expect = (
        read_postings_local(spark, index_dir)
        .groupBy("term")
        .agg(
            F.sum("num_docs").cast("long").alias("doc_freq"),
            F.sum("ttf").cast("long").alias("total_term_freq"),
            F.count("*").cast("long").alias("num_blocks"),
        )
        .orderBy("term")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in expect]


def test_sampled_boundaries(spark):
    """Forcing the hash-sampled boundary path must produce valid frozen
    boundaries (sorted, unique) and a complete, disjoint shard assignment."""
    from pyspark.sql import functions as F

    from lucene_spark.index.build import _assign_shards, _compute_boundaries
    from lucene_spark.sources.transcripts import generate_pandas

    pdf = generate_pandas(n_convs=400, seed=11)
    tdf = spark.createDataFrame(pdf)
    bounds = _compute_boundaries(tdf, 8, sample_target=4)  # forces sampling
    assert bounds == sorted(set(bounds)) and len(bounds) <= 7
    assigned = _assign_shards(tdf, bounds)
    n = assigned.count()
    assert n == len(pdf)
    # every shard's conv range must respect the frozen boundaries
    rng = assigned.groupBy("shard_id").agg(
        F.min("conv_id").alias("lo"), F.max("conv_id").alias("hi")
    ).orderBy("shard_id").collect()
    for a, b in zip(rng, rng[1:]):
        assert a["hi"] <= b["lo"]


def test_deletes_tombstone_semantics(spark, tmp_path_factory):
    """PendingDeletes analog: deleted docs vanish from every surface;
    surviving docs keep IDENTICAL scores (stats count deletes until merge,
    reference semantics); Weight#count shortcut is disabled under deletes."""
    import numpy as np

    from pyspark.sql import functions as F

    from lucene_spark.index.build import IndexConfig, build_index
    from lucene_spark.index.deletes import delete_docs
    from lucene_spark.index.merge import merge_index
    from lucene_spark.query.ast import BooleanQuery, MatchAllDocsQuery, TermQuery
    from lucene_spark.query.search import IndexSearcher
    from lucene_spark.sources.transcripts import generate_pandas

    work = tmp_path_factory.mktemp("deltest")
    idx = str(work / "idx")
    pdf = generate_pandas(n_convs=40, seed=5)
    build_index(spark, spark.createDataFrame(pdf), idx,
                IndexConfig(num_segments=3, term_buckets=4))
    merge_index(spark, idx)
    s0 = IndexSearcher(spark, idx)
    term = s0.term_dict.orderBy(F.desc("doc_freq")).first()["term"]
    before = [(r["doc_id"], np.float32(r["score"]))
              for r in s0.search(TermQuery(term), 30).collect()]
    n_before = s0.count(TermQuery(term))
    victims = [d for d, _ in before[:3]]

    delete_docs(spark, idx, spark.createDataFrame(
        [(int(d),) for d in victims], "doc_id long"))
    s = IndexSearcher(spark, idx)
    assert s.has_deletes
    after = [(r["doc_id"], np.float32(r["score"]))
             for r in s.search(TermQuery(term), 30).collect()]
    assert all(d not in {x[0] for x in after} for d in victims)
    # survivors keep bit-identical scores (stats unchanged until merge);
    # ranks 31+ may enter the post-delete top-30, so compare the prefix
    exp = [x for x in before if x[0] not in set(victims)]
    assert after[: len(exp)] == exp
    # counts reflect live docs only; the df shortcut is off
    assert s.count(TermQuery(term)) == n_before - len(victims)
    assert s.count(MatchAllDocsQuery()) == s.doc_count - len(victims)
    # boolean + pruned paths also drop tombstones
    q = BooleanQuery(must=[TermQuery(term)])
    for fn in (lambda: s.search(q, 30), lambda: s.search_pruned(q, 30)):
        got = {r["doc_id"] for r in fn().collect()}
        assert not (got & set(victims))
    # explain reports deleted
    ex = s.explain(TermQuery(term), victims[0])
    assert ex["match"] is False
    # idempotent re-delete
    delete_docs(spark, idx, spark.createDataFrame(
        [(int(victims[0]),)], "doc_id long"))
    s2 = IndexSearcher(spark, idx)
    assert s2.count(MatchAllDocsQuery()) == s.doc_count - len(victims)


def test_expunge_deletes_equals_fresh_build(spark, tmp_path_factory):
    """After expunge_deletes, the index must be indistinguishable from a
    FRESH build over the surviving corpus: check_index green, dense
    remapped docIDs, and bit-identical scores (stats now exclude the
    deleted docs, as after a reference merge)."""
    import numpy as np

    from pyspark.sql import functions as F

    from lucene_spark.index.build import IndexConfig, build_index
    from lucene_spark.index.check import check_index
    from lucene_spark.index.deletes import delete_docs, expunge_deletes
    from lucene_spark.index.merge import merge_index
    from lucene_spark.query.ast import BooleanQuery, PhraseQuery, TermQuery
    from lucene_spark.query.search import IndexSearcher
    from lucene_spark.sources.transcripts import generate_pandas

    work = tmp_path_factory.mktemp("expunge")
    pdf = generate_pandas(n_convs=40, seed=9)
    cfg = IndexConfig(num_segments=3, term_buckets=4)

    idx = str(work / "idx")
    build_index(spark, spark.createDataFrame(pdf), idx, cfg)
    merge_index(spark, idx)
    s0 = IndexSearcher(spark, idx)
    victims = [int(r["doc_id"]) for r in s0.docmap()
               .filter(F.pmod(F.col("doc_id"), F.lit(5)) == 2)
               .select("doc_id").collect()]
    # materialize the old id->(conv, turn) mapping BEFORE the rewrite
    keymap = s0.docmap().select("doc_id", "conv_id", "turn_idx").collect()
    delete_docs(spark, idx, spark.createDataFrame(
        [(d,) for d in victims], "doc_id long"))
    expunge_deletes(spark, idx)
    assert check_index(spark, idx)["ok"]
    victim_keys = {(r["conv_id"], r["turn_idx"]) for r in keymap
                   if r["doc_id"] in set(victims)}
    surv = pdf[~pdf.apply(
        lambda r: (r["conv_id"], r["turn_idx"]) in victim_keys, axis=1)]
    fresh = str(work / "fresh")
    build_index(spark, spark.createDataFrame(surv), fresh, cfg)
    merge_index(spark, fresh)

    se = IndexSearcher(spark, idx)
    sf = IndexSearcher(spark, fresh)
    assert not se.has_deletes
    assert se.doc_count == sf.doc_count == len(surv)
    term = sf.term_dict.orderBy(F.desc("doc_freq")).first()["term"]
    t2 = sf.term_dict.orderBy(F.asc("doc_freq"), F.asc("term")).first()["term"]
    for q in (TermQuery(term),
              BooleanQuery(must=[TermQuery(term)], should=[TermQuery(t2)]),
              PhraseQuery((term,), 0)):
        a = [(r["doc_id"], np.float32(r["score"]))
             for r in se.search(q, 25).collect()]
        b = [(r["doc_id"], np.float32(r["score"]))
             for r in sf.search(q, 25).collect()]
        assert a == b, q
    assert se.count(TermQuery(term)) == sf.count(TermQuery(term))


def test_expunge_never_collects_tombstones_to_driver(spark, tmp_path_factory):
    """The round-2 scale-killer: expunge_deletes collected the full tombstone
    set to the driver. Pin the fix — during expunge, every driver collect()
    stays O(num_segments); the tombstone set moves only through the staged
    per-range parquet that rewrite tasks read executor-side. Also pins the
    search-side threshold: a tombstone set above BROADCAST_DELETES_MAX must
    anti-join without a broadcast hint."""
    from pyspark.sql import DataFrame, functions as F

    from lucene_spark.index.build import IndexConfig, build_index
    from lucene_spark.index.check import check_index
    from lucene_spark.index.deletes import delete_docs, expunge_deletes
    from lucene_spark.index.merge import merge_index
    from lucene_spark.query.search import IndexSearcher

    work = tmp_path_factory.mktemp("expunge_collect")
    pdf = generate_pandas(n_convs=40, seed=11)
    cfg = IndexConfig(num_segments=3, term_buckets=4)
    idx = str(work / "idx")
    build_index(spark, spark.createDataFrame(pdf), idx, cfg)
    merge_index(spark, idx)
    s0 = IndexSearcher(spark, idx)
    n_docs = s0.doc_count
    victims = s0.docmap().filter(
        F.pmod(F.col("doc_id"), F.lit(3)) == 1).select("doc_id")
    n_victims = victims.count()
    assert n_victims > 3 * cfg.num_segments  # collect cap must be binding
    delete_docs(spark, idx, victims)

    # search-side: force the shuffle fallback and check results + plan
    s1 = IndexSearcher(spark, idx)
    s1.BROADCAST_DELETES_MAX = 0
    term = s1.term_dict.orderBy(F.desc("doc_freq")).first()["term"]
    from lucene_spark.query.ast import TermQuery
    live = s1._live(s1.docmap())
    # above the threshold the plan carries NO forced-broadcast hint — the
    # optimizer (AQE) is free to pick shuffle once the set is actually big
    # (at this test's scale it still auto-broadcasts; that's its call)
    logical = live._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftAnti" in logical
    # prove the probe detects hints: an explicitly hinted twin must show one
    hinted = s1.docmap().join(
        F.broadcast(s1._deletes_df), "doc_id", "left_anti")
    assert "broadcast" in hinted._jdf.queryExecution().analyzed().toString().lower()
    analyzed = live._jdf.queryExecution().analyzed().toString()
    assert "broadcast" not in analyzed.lower(), analyzed
    assert live.count() == n_docs - n_victims
    assert s1.search(TermQuery(term), 5).count() == 5

    # expunge-side: every collect during the rewrite stays O(num_segments)
    sizes = []
    cls = type(spark.range(1))  # the concrete DataFrame class in use
    orig = cls.collect

    def counting_collect(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    cls.collect = counting_collect
    try:
        expunge_deletes(spark, idx)
    finally:
        cls.collect = orig
    cap = 3 * cfg.num_segments
    assert sizes and max(sizes) <= cap, sizes
    assert check_index(spark, idx)["ok"]
    s2 = IndexSearcher(spark, idx)
    assert s2.doc_count == n_docs - n_victims


def test_append_batch_replay_is_idempotent(spark, tmp_path_factory):
    """A re-delivered micro-batch (same batch_id) must change NOTHING:
    no duplicate postings rows, no double-counted term_dict stats, no
    manifest bump (foreachBatch replays after a crash)."""
    from lucene_spark.index.merge import read_term_dict
    from lucene_spark.streaming.append import append_batch

    root = tmp_path_factory.mktemp("replay")
    idx = str(root / "idx")
    base = generate_pandas(n_convs=20, seed=3, vocab_size=300, max_turns=6)
    extra = generate_pandas(n_convs=6, seed=4, vocab_size=300, max_turns=6)
    extra["conv_id"] = "zz-" + extra["conv_id"]
    cfg = IndexConfig(num_segments=2, term_buckets=4, hot_term_df=64)
    build_index(spark, spark.createDataFrame(base), idx, cfg)
    merge_index(spark, idx)

    import copy

    m0 = copy.deepcopy(load_manifest(idx))  # pre-append state
    append_batch(spark, spark.createDataFrame(extra), idx, batch_id=7)
    m1 = load_manifest(idx)
    post1 = spark.read.parquet(os.path.join(idx, "postings"))
    rows1 = post1.count()
    td1 = sorted(tuple(r) for r in read_term_dict(spark, idx).collect())

    # full replay of the committed batch: the manifest guard short-circuits
    append_batch(spark, spark.createDataFrame(extra), idx, batch_id=7)
    m2 = load_manifest(idx)
    assert m2["generation"] == m1["generation"]
    assert len(m2["completed"]) == len(m1["completed"])
    assert spark.read.parquet(os.path.join(idx, "postings")).count() == rows1
    td2 = sorted(tuple(r) for r in read_term_dict(spark, idx).collect())
    assert td2 == td1

    # partial replay (crash just BEFORE the manifest commit): restore the
    # pre-append manifest — all data writes already landed, markers in
    # place — and re-run; every publish step must skip via its marker and
    # the segment's term statistics rewrite the same rows
    from lucene_spark.index.build import write_manifest

    write_manifest(idx, m0)
    append_batch(spark, spark.createDataFrame(extra), idx, batch_id=7)
    m3 = load_manifest(idx)
    assert m3["generation"] == m1["generation"]
    assert sorted(m3["completed"]) == sorted(m1["completed"])
    assert spark.read.parquet(os.path.join(idx, "postings")).count() == rows1
    td3 = sorted(tuple(r) for r in read_term_dict(spark, idx).collect())
    assert td3 == td1
    assert check_index(spark, idx)["ok"]


def test_append_and_expunge_invalidate_doc_layout(spark, tmp_path_factory):
    """The doc-range co-located layout indexes only the blocks it was built
    from: append and expunge must DROP it (search would otherwise silently
    miss appended docs / return stale pre-remap docIDs)."""
    from pyspark.sql import functions as F

    from lucene_spark.index.deletes import delete_docs, expunge_deletes
    from lucene_spark.index.doclayout import LAYOUT_DIR, build_doc_partitioned
    from lucene_spark.query.ast import BooleanQuery
    from lucene_spark.streaming.append import append_batch

    root = tmp_path_factory.mktemp("layout_inval")
    idx = str(root / "idx")
    base = generate_pandas(n_convs=25, seed=5, vocab_size=200, max_turns=6)
    extra = generate_pandas(n_convs=8, seed=6, vocab_size=200, max_turns=6)
    extra["conv_id"] = "zz-" + extra["conv_id"]
    cfg = IndexConfig(num_segments=2, term_buckets=4, hot_term_df=64)
    build_index(spark, spark.createDataFrame(base), idx, cfg)
    merge_index(spark, idx)
    build_doc_partitioned(spark, idx, num_parts=2)
    assert load_manifest(idx)["doc_layout"]

    # --- append drops the layout; a fresh searcher finds appended docs
    append_batch(spark, spark.createDataFrame(extra), idx, batch_id=1)
    m = load_manifest(idx)
    assert "doc_layout" not in m
    assert not os.path.exists(os.path.join(idx, LAYOUT_DIR))
    s = IndexSearcher(spark, idx)
    # pick two terms present in an appended doc
    from lucene_spark.functions.analysis import tokenize_one
    toks = [t.lower() for t in tokenize_one(extra["text"].iloc[0])]
    t0, t1 = toks[0], next(t for t in toks if t != toks[0])
    q = BooleanQuery(should=[TermQuery(t0), TermQuery(t1)])
    base_docs = sum(1 for _ in range(len(base)))
    hits = {r["doc_id"] for r in s.search(q, 1000).collect()}
    assert any(d >= base_docs for d in hits)  # appended docs are visible

    # --- rebuild layout, tombstone + expunge drops it again and the
    # rebuilt-on-demand layout serves exact post-expunge results
    build_doc_partitioned(spark, idx, num_parts=2)
    assert load_manifest(idx).get("doc_layout")
    delete_docs(spark, idx, spark.createDataFrame(
        [(0,), (10**12,), (-5,)], "doc_id long"))  # incl. bogus ids
    expunge_deletes(spark, idx)
    m = load_manifest(idx)
    assert "doc_layout" not in m
    assert not os.path.exists(os.path.join(idx, LAYOUT_DIR))
    assert check_index(spark, idx)["ok"]
    # bogus tombstones must not have shifted the remap: doc 0 was the only
    # real delete, so the survivor count dropped by exactly 1
    s2 = IndexSearcher(spark, idx)
    assert s2.doc_count == base_docs + len(extra) - 1


def test_colocated_with_deletes_is_exact(spark, tmp_path_factory):
    """With live tombstones the doc-at-a-time path must not lose survivors
    ranked below k inside a partition — search() stays exact by taking the
    exhaustive plan until expunge."""
    from lucene_spark.index.deletes import delete_docs
    from lucene_spark.index.doclayout import build_doc_partitioned
    from lucene_spark.query.ast import BooleanQuery

    root = tmp_path_factory.mktemp("colodel")
    idx = str(root / "idx")
    base = generate_pandas(n_convs=30, seed=8, vocab_size=120, max_turns=8)
    cfg = IndexConfig(num_segments=2, term_buckets=4, hot_term_df=64)
    build_index(spark, spark.createDataFrame(base), idx, cfg)
    merge_index(spark, idx)
    build_doc_partitioned(spark, idx, num_parts=1)  # worst case: one leaf

    s0 = IndexSearcher(spark, idx)
    # two common terms; delete the whole undeleted top-k so survivors come
    # from below the per-partition truncation point
    from collections import Counter

    from lucene_spark.functions.analysis import tokenize_one
    c: Counter = Counter()
    for t in base["text"]:
        c.update({w.lower() for w in tokenize_one(t)})
    t0, t1 = [t for t, _ in c.most_common(2)]
    q = BooleanQuery(should=[TermQuery(t0), TermQuery(t1)])
    full = [(r["doc_id"], np.float32(r["score"]))
            for r in s0.search(q, 40).collect()]
    assert len(full) > 10
    dels = [d for d, _ in full[:10]]
    delete_docs(spark, idx, spark.createDataFrame(
        [(int(d),) for d in dels], "doc_id long"))

    s1 = IndexSearcher(spark, idx)
    got = [(r["doc_id"], np.float32(r["score"]))
           for r in s1.search(q, 10).collect()]
    expect = [x for x in full if x[0] not in set(dels)][:10]
    assert got == expect
    # the explicit colocated entry point takes the same exact fallback
    got2 = [(r["doc_id"], np.float32(r["score"]))
            for r in s1.search_colocated(q, 10).collect()]
    assert got2 == expect


def test_append_replay_with_different_data_raises(spark, tmp_path_factory):
    """A crashed append (markers in place, manifest uncommitted) followed
    by an append of DIFFERENT data into the same segment id must raise,
    not silently publish mismatched artifacts."""
    import copy

    from lucene_spark.index.build import write_manifest
    from lucene_spark.streaming.append import append_batch

    root = tmp_path_factory.mktemp("fpmix")
    idx = str(root / "idx")
    base = generate_pandas(n_convs=15, seed=11, vocab_size=200, max_turns=5)
    a = generate_pandas(n_convs=5, seed=12, vocab_size=200, max_turns=5)
    b = generate_pandas(n_convs=5, seed=13, vocab_size=200, max_turns=5)
    a["conv_id"] = "za-" + a["conv_id"]
    b["conv_id"] = "zb-" + b["conv_id"]
    cfg = IndexConfig(num_segments=2, term_buckets=4, hot_term_df=64)
    build_index(spark, spark.createDataFrame(base), idx, cfg)
    merge_index(spark, idx)

    m0 = copy.deepcopy(load_manifest(idx))
    append_batch(spark, spark.createDataFrame(a), idx, batch_id=1)
    write_manifest(idx, m0)  # simulate crash before the manifest commit
    with pytest.raises(RuntimeError, match="DIFFERENT data"):
        append_batch(spark, spark.createDataFrame(b), idx, batch_id=2)


def test_swap_dir_recovers_from_crash_states(spark, tmp_path):
    """swap_dir must clear a leftover .old and tolerate a missing live dir
    (the two crash windows of the rename-rename pattern)."""
    from lucene_spark.index.atomic import swap_dir

    final = str(tmp_path / "table")
    # leftover .old from a crashed prior swap + live dir present
    os.makedirs(final)
    open(os.path.join(final, "v1"), "w").write("old")
    os.makedirs(final + ".old")
    open(os.path.join(final + ".old", "stale"), "w").close()
    tmp = final + ".new"
    os.makedirs(tmp)
    open(os.path.join(tmp, "v2"), "w").write("new")
    swap_dir(spark, tmp, final)
    assert os.path.exists(os.path.join(final, "v2"))
    assert not os.path.exists(final + ".old") and not os.path.exists(tmp)

    # crash in the rename-rename gap: live dir missing entirely
    tmp2 = final + ".new"
    os.makedirs(tmp2)
    open(os.path.join(tmp2, "v3"), "w").close()
    import shutil as _sh

    _sh.move(final, final + ".old")  # live dir gone, .old left behind
    swap_dir(spark, tmp2, final)
    assert os.path.exists(os.path.join(final, "v3"))
    assert not os.path.exists(final + ".old")


def test_expunge_all_bogus_keeps_doc_layout(spark, tmp_path_factory):
    """Expunging only out-of-range tombstones changes no docID: the
    doc-range layout must remain valid and must NOT be rebuilt."""
    from lucene_spark.index.deletes import delete_docs, expunge_deletes
    from lucene_spark.index.doclayout import LAYOUT_DIR, build_doc_partitioned

    root = tmp_path_factory.mktemp("bogusdel")
    idx = str(root / "idx")
    base = generate_pandas(n_convs=15, seed=14, vocab_size=150, max_turns=5)
    cfg = IndexConfig(num_segments=2, term_buckets=4, hot_term_df=64)
    build_index(spark, spark.createDataFrame(base), idx, cfg)
    merge_index(spark, idx)
    l1 = build_doc_partitioned(spark, idx, num_parts=2)
    delete_docs(spark, idx, spark.createDataFrame(
        [(10**12,), (-3,)], "doc_id long"))
    expunge_deletes(spark, idx)
    m = load_manifest(idx)
    assert not m.get("has_deletes")
    assert m.get("doc_layout") is not None
    assert os.path.exists(os.path.join(idx, LAYOUT_DIR))
    # idempotence check passes: same layout served, no rebuild
    l2 = build_doc_partitioned(spark, idx, num_parts=2)
    assert l2["built_at_generation"] == m["doc_layout"]["built_at_generation"]
    assert l2["replicated_blocks"] == l1["replicated_blocks"]


def test_expunge_resumes_after_crash_mid_swap(spark, tmp_path_factory):
    """A crash inside the expunge swap loop must NOT lead to a double
    remap on replay: the commit marker routes the replay to the finish
    path, which completes the remaining swaps and the manifest."""
    import lucene_spark.index.atomic as atomic
    from lucene_spark.index.deletes import delete_docs, expunge_deletes

    root = tmp_path_factory.mktemp("expcrash")
    idx = str(root / "idx")
    idx2 = str(root / "idx2")  # control: same build, clean expunge
    base = generate_pandas(n_convs=20, seed=17, vocab_size=150, max_turns=6)
    cfg = IndexConfig(num_segments=2, term_buckets=4, hot_term_df=64)
    for d in (idx, idx2):
        build_index(spark, spark.createDataFrame(base), d, cfg)
        merge_index(spark, d)
        delete_docs(spark, d, spark.createDataFrame(
            [(1,), (5,), (11,)], "doc_id long"))

    real_swap = atomic.swap_dir
    calls = {"n": 0}

    def crashing_swap(s, tmp, final):
        if calls["n"] >= 2:
            raise RuntimeError("simulated crash mid-swap-loop")
        calls["n"] += 1
        real_swap(s, tmp, final)

    atomic.swap_dir = crashing_swap
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            expunge_deletes(spark, idx)
    finally:
        atomic.swap_dir = real_swap
    assert os.path.exists(os.path.join(idx, "_EXPUNGE_COMMIT"))

    # replay: finish path, never the remap again
    m = expunge_deletes(spark, idx)
    assert not m.get("has_deletes")
    assert not os.path.exists(os.path.join(idx, "_EXPUNGE_COMMIT"))
    assert check_index(spark, idx)["ok"]

    # identical to a clean expunge of the same index
    expunge_deletes(spark, idx2)
    s1, s2 = IndexSearcher(spark, idx), IndexSearcher(spark, idx2)
    assert s1.doc_count == s2.doc_count == len(base) - 3
    from lucene_spark.functions.analysis import tokenize_one
    t = tokenize_one(base["text"].iloc[0])[0].lower()
    a = [(r["doc_id"], np.float32(r["score"]))
         for r in s1.search(TermQuery(t), 30).collect()]
    b = [(r["doc_id"], np.float32(r["score"]))
         for r in s2.search(TermQuery(t), 30).collect()]
    assert a == b


def test_legacy_empty_markers_still_skip(spark, tmp_path_factory):
    """Markers written by the pre-fingerprint format are zero-byte; a
    same-batch replay must keep skipping (not raise) on them."""
    import copy

    from lucene_spark.index.build import write_manifest
    from lucene_spark.streaming.append import append_batch

    root = tmp_path_factory.mktemp("legacy")
    idx = str(root / "idx")
    base = generate_pandas(n_convs=15, seed=20, vocab_size=150, max_turns=5)
    extra = generate_pandas(n_convs=5, seed=21, vocab_size=150, max_turns=5)
    extra["conv_id"] = "zz-" + extra["conv_id"]
    cfg = IndexConfig(num_segments=2, term_buckets=4, hot_term_df=64)
    build_index(spark, spark.createDataFrame(base), idx, cfg)
    merge_index(spark, idx)

    m0 = copy.deepcopy(load_manifest(idx))
    append_batch(spark, spark.createDataFrame(extra), idx, batch_id=3)
    rows1 = spark.read.parquet(os.path.join(idx, "postings")).count()
    # truncate every marker to the legacy zero-byte format
    import glob

    for mk in glob.glob(os.path.join(idx, "*", "_APPLIED_SEG_*")):
        open(mk, "w").close()
    write_manifest(idx, m0)  # crash-before-manifest state
    append_batch(spark, spark.createDataFrame(extra), idx, batch_id=3)
    assert spark.read.parquet(os.path.join(idx, "postings")).count() == rows1
    assert check_index(spark, idx)["ok"]


def test_append_preserves_payloads_and_offsets_schema(spark, tmp_path_factory):
    """Appended segments must carry the SAME positions-artifact columns as
    the base build (offsets/payloads), or the merged positions read
    schema-splits; payload_score must cover appended docs."""
    import pandas as pd

    from lucene_spark.index.build import IndexConfig, build_index
    from lucene_spark.index.merge import merge_index
    from lucene_spark.query.search import IndexSearcher
    from lucene_spark.streaming.append import append_batch

    idx = str(tmp_path_factory.mktemp("pay_append") / "idx")

    def frame(texts, cid0):
        return pd.DataFrame({
            "conv_id": [f"c{cid0 + i}" for i in range(len(texts))],
            "turn_idx": [0] * len(texts), "role": ["doc"] * len(texts),
            "text": texts, "tool": [None] * len(texts),
            "ts": pd.to_datetime(["2026-01-01"] * len(texts)),
        })

    base = frame(["run|0.5 jump|1.0", "walk|0.25 run|0.75"], 0)
    build_index(spark, spark.createDataFrame(base), idx,
                IndexConfig(num_segments=1, term_buckets=2,
                            analyzer="whitespace_payload", payloads=True))
    merge_index(spark, idx)

    extra = frame(["run|2.0 run|0.25"], 10)
    append_batch(spark, spark.createDataFrame(extra), idx, batch_id=1)

    s = IndexSearcher(spark, idx)
    assert "payloads" in s.positions_table().columns
    got = {r["doc_id"]: np.float32(r["score"])
           for r in s.payload_score("run", 10, func="sum").collect()}
    # appended doc (highest docID) scores 2.25; base docs 0.5 / 0.75
    assert sorted(got.values()) == [np.float32(0.5), np.float32(0.75),
                                    np.float32(2.25)]

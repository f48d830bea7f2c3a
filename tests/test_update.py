"""updateDocuments atomic replace (index/update.py) + commit-point reader
visibility: delete-by-key and add land at ONE manifest commit; a reader
opened at any moment sees old-or-new, never neither; crash between stages
leaves readers on the old commit point and a replay finishes the commit."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_spark.index.build import IndexConfig, build_index, load_manifest
from lucene_spark.index.check import check_index
from lucene_spark.index.deletes import expunge_deletes
from lucene_spark.index.merge import merge_index
from lucene_spark.index.update import update_docs
from lucene_spark.query.ast import MatchAllDocsQuery, TermQuery
from lucene_spark.query.search import IndexSearcher
from lucene_spark.sources.transcripts import generate_pandas

CFG = dict(num_segments=2, term_buckets=4, hot_term_df=64)


def _build(spark, idx, pdf):
    build_index(spark, spark.createDataFrame(pdf), idx, IndexConfig(**CFG))
    merge_index(spark, idx)


def _committed_term_stats(spark, idx, max_sid):
    """term -> (Σ num_docs, Σ ttf) over the posting blocks of the segments
    up to ``max_sid``, and every term of every segment on disk (staged
    ones included)."""
    from lucene_spark.index.build import read_postings_local

    local = read_postings_local(spark, idx)
    stats = {r["term"]: (r["df"], r["ttf"]) for r in (
        local.filter(F.col("segment_id") <= max_sid).groupBy("term")
        .agg(F.sum("num_docs").alias("df"), F.sum("ttf").alias("ttf"))
        .collect())}
    return stats, [r["term"] for r in local.select("term").distinct().collect()]


def _crash_before_commit(spark, idx, batch, batch_id):
    """update_docs stopped just before its manifest write: everything is
    staged (segment published, term statistics and tombstone generation
    written), nothing committed."""
    import lucene_spark.index.update as upd

    real_write = upd.write_manifest
    upd.write_manifest = lambda *a, **k: (_ for _ in ()).throw(
        RuntimeError("simulated crash before commit"))
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            update_docs(spark, idx, spark.createDataFrame(batch),
                        batch_id=batch_id)
    finally:
        upd.write_manifest = real_write


def _updated_corpus(base, repl, extra):
    """base with ``repl``'s keyed rows swapped in, plus ``extra``."""
    import pandas as pd

    keys = set(zip(repl.conv_id, repl.turn_idx))
    kept = base[~base.apply(
        lambda r: (r["conv_id"], r["turn_idx"]) in keys, axis=1)]
    return pd.concat([kept, repl, extra], ignore_index=True)


@pytest.fixture(scope="module")
def corpus():
    base = generate_pandas(n_convs=30, seed=31, vocab_size=300, max_turns=6)
    # replace half the turns of 6 existing conversations with new text...
    convs = sorted(base["conv_id"].unique())[:6]
    repl = base[base["conv_id"].isin(convs) & (base["turn_idx"] % 2 == 0)
                ].copy()
    donor = generate_pandas(n_convs=6, seed=32, vocab_size=300, max_turns=8)
    repl["text"] = donor["text"].iloc[: len(repl)].to_numpy()
    # ...and insert 4 brand-new conversations in the same batch
    extra = generate_pandas(n_convs=4, seed=33, vocab_size=300, max_turns=5)
    extra["conv_id"] = "zz-" + extra["conv_id"]
    import pandas as pd

    batch = pd.concat([repl, extra], ignore_index=True)
    return base, repl, extra, batch


def test_update_then_expunge_equals_fresh_build(spark, tmp_path_factory,
                                                corpus):
    base, repl, extra, batch = corpus
    root = tmp_path_factory.mktemp("upd")
    idx, fresh = str(root / "idx"), str(root / "fresh")
    _build(spark, idx, base)

    s_old = IndexSearcher(spark, idx)
    n_old = s_old.doc_count

    m = update_docs(spark, idx, spark.createDataFrame(batch), batch_id=1)
    assert m["has_deletes"] and m.get("deletes_data")

    # pre-expunge: tombstone semantics — old versions invisible, new docs
    # searchable, doc stats still count the tombstones (reference NRT)
    s1 = IndexSearcher(spark, idx)
    assert s1.count(MatchAllDocsQuery()) == n_old + len(batch) - len(repl)
    live_keys = {(r["conv_id"], int(r["turn_idx"]), int(r["doc_id"]))
                 for r in s1._live(s1.docmap()).collect()}
    by_key = {}
    for c, t, d in live_keys:
        by_key.setdefault((c, t), []).append(d)
    # exactly one live doc per key (replaced keys keep only the new one)
    assert all(len(v) == 1 for v in by_key.values())
    base_docs = n_old
    for c, t in zip(repl.conv_id, repl.turn_idx):
        assert by_key[(c, int(t))][0] >= base_docs  # the NEW version

    # post-expunge: bit-identical to a fresh build over the updated corpus;
    # the base term_dict folds the update's term-statistics delta in
    assert os.listdir(os.path.join(idx, "term_dict_delta"))
    expunge_deletes(spark, idx)
    assert not os.listdir(os.path.join(idx, "term_dict_delta"))
    assert check_index(spark, idx)["ok"]
    updated = _updated_corpus(base, repl, extra)
    _build(spark, fresh, updated)
    se, sf = IndexSearcher(spark, idx), IndexSearcher(spark, fresh)
    assert se.doc_count == sf.doc_count == len(updated)
    terms = [r["term"] for r in
             sf.term_dict.orderBy(F.desc("doc_freq")).limit(3).collect()]
    for t in terms:
        a = sorted((int(r["doc_id"]), np.float32(r["score"]))
                   for r in se.search(TermQuery(t), 10**6).collect())
        b = sorted((int(r["doc_id"]), np.float32(r["score"]))
                   for r in sf.search(TermQuery(t), 10**6).collect())
        # docIDs differ (expunge keeps arrival order, fresh build sorts),
        # so compare the score MULTISETS and the (key -> score) maps
        assert sorted(x[1] for x in a) == sorted(x[1] for x in b), t
        ka = {(r["conv_id"], int(r["turn_idx"])): np.float32(r["score"])
              for r in se.search(TermQuery(t), 10**6)
              .join(se.docmap(), "doc_id")
              .select("conv_id", "turn_idx", "score").collect()}
        kb = {(r["conv_id"], int(r["turn_idx"])): np.float32(r["score"])
              for r in sf.search(TermQuery(t), 10**6)
              .join(sf.docmap(), "doc_id")
              .select("conv_id", "turn_idx", "score").collect()}
        assert ka == kb, t


def test_update_crash_before_commit_is_invisible_then_resumes(
        spark, tmp_path_factory, corpus):
    base, repl, extra, batch = corpus
    idx = str(tmp_path_factory.mktemp("updcrash") / "idx")
    _build(spark, idx, base)
    s0 = IndexSearcher(spark, idx)
    n_old = s0.doc_count
    before = {(r["conv_id"], int(r["turn_idx"]))
              for r in s0.docmap().select("conv_id", "turn_idx").collect()}

    # kill between staging and the commit
    _crash_before_commit(spark, idx, batch, 9)

    # a reader opened NOW sees exactly the OLD commit point: the staged
    # segment is filtered out (max committed sid), its term statistics
    # are not counted, the staged tombstone generation is unreferenced
    s_mid = IndexSearcher(spark, idx)
    assert not s_mid.has_deletes
    assert s_mid.count(MatchAllDocsQuery()) == n_old
    want, vocab = _committed_term_stats(spark, idx, s_mid.max_segment_id)
    assert s_mid.term_stats(vocab) == want
    mid = {(r["conv_id"], int(r["turn_idx"]))
           for r in s_mid.docmap().select("conv_id", "turn_idx").collect()}
    assert mid == before  # no zz- conv leaked in, no victim vanished

    # replay with the same batch: markers skip completed stages, the
    # commit finishes, the new state becomes visible atomically
    m = update_docs(spark, idx, spark.createDataFrame(batch), batch_id=9)
    assert m["has_deletes"]
    s2 = IndexSearcher(spark, idx)
    assert s2.count(MatchAllDocsQuery()) == n_old + len(batch) - len(repl)
    want2, vocab = _committed_term_stats(spark, idx, s2.max_segment_id)
    assert want2 != want and s2.term_stats(vocab) == want2
    assert check_index(spark, idx)["ok"]

    # exactly-once: a second replay of the committed batch changes nothing
    g = load_manifest(idx)["generation"]
    update_docs(spark, idx, spark.createDataFrame(batch), batch_id=9)
    assert load_manifest(idx)["generation"] == g


def test_staged_update_leaves_term_stats_at_the_commit_point(
        spark, tmp_path_factory, corpus):
    """A searcher opened on a staged, uncommitted update weights terms with
    the committed segments' statistics only: for every term on disk,
    ``term_stats`` equals Σ num_docs / Σ ttf of the committed blocks. Bare
    prefix queries over the staged terms take the driver-local route and
    return what the bound-0 Spark searcher returns."""
    from lucene_spark.query.ast import PrefixQuery

    base, _, _, batch = corpus
    batch = batch.assign(text="qqstaged " + batch["text"])
    idx = str(tmp_path_factory.mktemp("updstaged") / "idx")
    _build(spark, idx, base)
    _crash_before_commit(spark, idx, batch, 4)

    s = IndexSearcher(spark, idx)
    want, vocab = _committed_term_stats(spark, idx, s.max_segment_id)
    assert "qqstaged" in vocab and "qqstaged" not in want
    assert s.term_stats(vocab) == want
    spk = IndexSearcher(spark, idx)
    spk.LOCAL_POSTINGS_MAX = 0
    for prefix in ["qq"] + [t[:2] for t in sorted(vocab)[::40]]:
        got = s.search(PrefixQuery(prefix), 1000)
        assert "LocalRelation" in got._jdf.queryExecution().analyzed(
        ).toString(), prefix
        rows = [(r["doc_id"], np.float32(r["score"])) for r in got.collect()]
        assert rows == [(r["doc_id"], np.float32(r["score"]))
                        for r in spk.search(PrefixQuery(prefix), 1000)
                        .collect()], prefix


def test_update_insert_only_sets_no_deletes(spark, tmp_path_factory):
    base = generate_pandas(n_convs=12, seed=41, vocab_size=200, max_turns=5)
    extra = generate_pandas(n_convs=3, seed=42, vocab_size=200, max_turns=5)
    extra["conv_id"] = "zz-" + extra["conv_id"]
    idx = str(tmp_path_factory.mktemp("updins") / "idx")
    _build(spark, idx, base)
    m = update_docs(spark, idx, spark.createDataFrame(extra), batch_id=1)
    assert not m.get("has_deletes")
    s = IndexSearcher(spark, idx)
    assert s.doc_count == len(base) + len(extra)


def test_stream_update_upsert_exactly_once(spark, tmp_path_factory, corpus):
    """stream_update: micro-batched atomic upserts with exactly-once
    replay (the NRT re-crawl loop)."""
    import os

    from lucene_spark.streaming.append import stream_update

    base, repl, extra, batch = corpus
    root = tmp_path_factory.mktemp("supd")
    idx, src, ckpt = str(root / "idx"), str(root / "in"), str(root / "ck")
    os.makedirs(src)
    _build(spark, idx, base)
    n_old = IndexSearcher(spark, idx).doc_count

    spark.createDataFrame(batch).coalesce(1).write.parquet(src,
                                                           mode="append")
    stream_update(spark, src, idx, ckpt)
    s = IndexSearcher(spark, idx)
    assert s.count(MatchAllDocsQuery()) == n_old + len(batch) - len(repl)

    # drained checkpoint: a re-run must change nothing
    g = load_manifest(idx)["generation"]
    stream_update(spark, src, idx, ckpt)
    assert load_manifest(idx)["generation"] == g
    assert check_index(spark, idx)["ok"]


def test_update_doc_values_relabels_without_reindex(spark,
                                                    tmp_path_factory):
    """updateDocValues analog: metadata columns change (and new columns
    appear), scores stay BIT-IDENTICAL (postings/norms untouched),
    metadata filters see the new values; reserved columns raise."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from lucene_spark.index.update import update_doc_values
    from lucene_spark.query.ast import (
        BooleanQuery, FieldEqualsQuery, TermQuery,
    )

    base = generate_pandas(n_convs=15, seed=61, vocab_size=200,
                           max_turns=5)
    idx = str(tmp_path_factory.mktemp("dvup") / "idx")
    _build(spark, idx, base)
    s0 = IndexSearcher(spark, idx)
    term = [r["term"] for r in
            s0.term_dict.orderBy(F.desc("doc_freq")).limit(1).collect()][0]
    before = [(r["doc_id"], np.float32(r["score"]))
              for r in s0.search(TermQuery(term), 40).collect()]

    # re-label: a NEW column + an updated role for even turns
    vals = (s0.docmap()
            .select("conv_id", "turn_idx")
            .withColumn("label", F.when(F.col("turn_idx") % 2 == 0,
                                        F.lit("even")).otherwise(
                                            F.lit("odd")))
            .withColumn("role", F.when(F.col("turn_idx") % 2 == 0,
                                       F.lit("relabeled"))))
    m = update_doc_values(spark, idx, vals)
    assert m["generation"] > 0

    s1 = IndexSearcher(spark, idx)
    # scores bit-identical — the DV update never touches postings/norms
    after = [(r["doc_id"], np.float32(r["score"]))
             for r in s1.search(TermQuery(term), 40).collect()]
    assert after == before
    # the new column filters; NULL-in-values kept the old role for odds
    evens = s1.search(BooleanQuery(must=[TermQuery(term)],
                                   filter=[FieldEqualsQuery("label",
                                                            "even")]), 100)
    got = {r["doc_id"] for r in evens.collect()}
    exp = {int(r["doc_id"]) for r in s1.docmap().filter(
        F.col("label") == "even").select("doc_id").collect()}
    assert got and got <= exp
    roles = {r["role"] for r in s1.docmap().select("role").distinct()
             .collect()}
    assert "relabeled" in roles and len(roles) > 1
    # reserved columns refuse
    with _pytest.raises(ValueError, match="engine-owned"):
        update_doc_values(spark, idx, vals.withColumn("field_len",
                                                      F.lit(1)))


@pytest.fixture(scope="module")
def dv_index(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("dvguard") / "idx")
    _build(spark, idx, generate_pandas(n_convs=8, seed=62, vocab_size=100,
                                       max_turns=4))
    return idx


def test_update_doc_values_rejects_norm_byte(spark, dv_index):
    """norm_byte is the scoring norm (and the source of the per-block impact
    bounds) baked into the postings: a DV update must not touch it."""
    from lucene_spark.index.update import update_doc_values

    gen = load_manifest(dv_index)["generation"]
    vals = (IndexSearcher(spark, dv_index).docmap()
            .select("conv_id", "turn_idx").withColumn("norm_byte", F.lit(1)))
    with pytest.raises(ValueError, match="engine-owned.*norm_byte"):
        update_doc_values(spark, dv_index, vals)
    assert load_manifest(dv_index)["generation"] == gen


def test_update_doc_values_rejects_duplicate_keys(spark, dv_index):
    """Two update rows for one key would fan out the docmap join and
    persist duplicate doc_ids; the update raises and commits nothing."""
    from lucene_spark.index.update import update_doc_values

    s0 = IndexSearcher(spark, dv_index)
    n_docs = s0.docmap().count()
    key = s0.docmap().select("conv_id", "turn_idx").first()
    vals = spark.createDataFrame(
        [(key["conv_id"], key["turn_idx"], "a"),
         (key["conv_id"], key["turn_idx"], "b")],
        "conv_id string, turn_idx int, label string")
    gen = load_manifest(dv_index)["generation"]
    with pytest.raises(ValueError, match="duplicate"):
        update_doc_values(spark, dv_index, vals)
    assert load_manifest(dv_index)["generation"] == gen
    s1 = IndexSearcher(spark, dv_index)
    assert s1.docmap().count() == n_docs
    assert "label" not in s1.docmap().columns


def test_pinned_searcher_does_not_see_later_deletes(spark, tmp_path_factory):
    """liveDocs-per-commit: a searcher opened before a delete keeps
    serving its own commit point's live set (the manifest-resolved
    tombstone generation), even after the delete commits."""
    from lucene_spark.index.deletes import delete_docs

    base = generate_pandas(n_convs=12, seed=43, vocab_size=200, max_turns=5)
    idx = str(tmp_path_factory.mktemp("pinned") / "idx")
    _build(spark, idx, base)
    s_pin = IndexSearcher(spark, idx)
    n = s_pin.count(MatchAllDocsQuery())
    delete_docs(spark, idx, spark.createDataFrame([(0,), (1,)],
                                                  "doc_id long"))
    # the pinned searcher's manifest has no tombstones -> still sees all
    assert s_pin.count(MatchAllDocsQuery()) == n
    # a fresh open sees the delete commit
    assert IndexSearcher(spark, idx).count(MatchAllDocsQuery()) == n - 2


def test_pinned_searcher_raises_when_its_delete_generation_is_pruned(
        spark, tmp_path_factory):
    """A later delete commit prunes the generation a pinned searcher's
    manifest names. Resolving that searcher's tombstones must then fail
    loudly, never serve the commit point with its deleted docs back."""
    from lucene_spark.index.deletes import delete_docs

    base = generate_pandas(n_convs=12, seed=44, vocab_size=200, max_turns=5)
    idx = str(tmp_path_factory.mktemp("pruned") / "idx")
    _build(spark, idx, base)
    delete_docs(spark, idx, spark.createDataFrame([(0,)], "doc_id long"))
    s_pin = IndexSearcher(spark, idx)  # names deletes_g<n>, not read yet
    pinned_gen = s_pin.manifest["deletes_data"]
    delete_docs(spark, idx, spark.createDataFrame([(1,)], "doc_id long"))
    assert not os.path.exists(os.path.join(idx, pinned_gen))
    with pytest.raises(FileNotFoundError, match=pinned_gen):
        s_pin.count(MatchAllDocsQuery())
    # the current commit point still resolves its own generation
    s_new = IndexSearcher(spark, idx)
    assert s_new.count(MatchAllDocsQuery()) == s_new.doc_count - 2

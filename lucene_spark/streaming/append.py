"""Structured-Streaming incremental index append — the NRT refresh analog.

Reference semantics mirrored (public Apache Lucene source):
  - new docs land in NEW segments; committed segments are immutable
    (``DocumentsWriterPerThread`` flush -> ``SegmentInfos`` generation bump).
  - appended docIDs are assigned in ARRIVAL order after the current maximum
    (Lucene docIDs are insertion-ordered; the initial bulk build's global
    (conv_id, turn_idx) ordering is a property of that one batch, not of the
    index — the manifest records ``ordered: false`` once appends happen and
    ``check_index`` skips the global-order audit).
  - a refreshed searcher sees base + appended segments
    (``DirectoryReader.openIfChanged``, ``SearcherManager`` analog) simply by
    re-opening: appended posting blocks are extra rows in the same
    term-bucketed table, no reader-side merge needed.
  - exactly-once: Spark's streaming checkpoint dedupes micro-batches and the
    per-segment filenames are deterministic, so a replayed batch overwrites
    its own files idempotently (sequence-number analog of
    ``IndexWriter.java:1488`` seqNo).
  - each appended segment carries its own term statistics
    (``term_dict_delta/segment=<sid>/``, ``merge.write_term_stats``), as
    each reference segment carries its own term dictionary; readers sum
    them over the segments they see. Nothing re-reads old segments or the
    base ``term_dict/``.
"""

from __future__ import annotations

import dataclasses
import os

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucene_spark.index.build import (
    IndexConfig,
    SEGMENT_META_SCHEMA,
    _make_segment_builder,
    load_manifest,
    read_postings_local,
    write_manifest,
)
from lucene_spark.index.merge import (
    term_bucket_col, term_delta_dir, write_term_stats,
)

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp"
)


def append_batch(
    spark: SparkSession, batch_df: DataFrame, index_dir: str, batch_id: int | None = None
) -> dict:
    """Append one (micro-)batch as new segment(s); returns the new manifest.

    Safe to call directly (batch mode) or from foreachBatch (streaming)."""
    manifest = load_manifest(index_dir)
    if manifest is None or not manifest.get("merged"):
        raise ValueError(f"{index_dir}: base index must be built+merged first")

    # exactly-once, layer 1: a batch whose manifest commit completed is
    # never re-applied (foreachBatch re-delivers the last UNcommitted batch
    # after a restart — Spark checkpoints commit after this function
    # returns). Layers 2-3 (marker files below) make the replay of a
    # PARTIALLY-applied batch idempotent step by step.
    if batch_id is not None and str(batch_id) in manifest.get("applied_batches", []):
        return manifest

    staged = stage_batch_segment(spark, batch_df, index_dir, manifest, batch_id)
    if staged is None:
        return manifest
    commit_staged_segment(index_dir, manifest, staged, batch_id)
    return manifest


def stage_batch_segment(
    spark: SparkSession, batch_df: DataFrame, index_dir: str,
    manifest: dict, batch_id: int | None = None,
) -> dict | None:
    """Everything ``append_batch`` does EXCEPT the manifest commit: build
    the new segment's artifacts, publish its posting/position rows, and
    write its own term statistics — all invisible to readers (they filter
    to committed segment ids; see ``IndexSearcher.max_segment_id``) until
    ``commit_staged_segment`` writes the manifest. Split out so
    ``update_docs`` can fold tombstones + a new segment into ONE commit
    (``IndexWriter.updateDocuments``'s atomicity). Returns the staged-
    segment descriptor, or None for an empty batch. Idempotent on replay:
    the appending publishes skip via their ``_APPLIED_SEG`` markers, and
    the term statistics are an overwrite."""
    config = IndexConfig(**manifest["config"])
    next_sid = max(int(k) for k in manifest["completed"]) + 1
    doc_base = sum(int(v["num_docs"]) for v in manifest["completed"].values())

    n = batch_df.count()
    if n == 0:
        return None
    # one new segment per micro-batch (FlushByRamOrCountsPolicy analog:
    # batch == flush unit); large batches could repartition into several
    assigned = batch_df.select(
        "conv_id", "turn_idx", "role", "tool", "ts", "text"
    ).withColumn("shard_id", F.lit(next_sid))
    meta = assigned.groupBy("shard_id").applyInPandas(
        _make_segment_builder(
            index_dir, {next_sid: doc_base},
            # appended docIDs are arrival-ordered (index_sort=None; the
            # sorted-search path sees ordered=False and falls back), but
            # offsets/payloads columns must match the existing artifacts or
            # the merged positions read schema-splits
            dataclasses.replace(config, index_sort=None),
        ),
        schema=SEGMENT_META_SCHEMA,
    )
    rows = meta.collect()
    # marker fingerprint: batch identity + doc count + content checksum.
    # A replay of the SAME batch matches and skips committed steps; a
    # direct re-append of DIFFERENT data into a crashed segment id would
    # otherwise silently publish mismatched artifacts — that case raises.
    batch_fp = "b{}-n{}-c{}".format(
        batch_id, n, sum(int(r["checksum"]) for r in rows)
    )

    def _marker_ok(path: str) -> bool:
        if not os.path.exists(path):
            return False
        have = open(path).read()
        if have == "":
            # legacy marker (pre-fingerprint format): the step committed,
            # identity unknown — keep the old skip behavior
            return True
        if have != batch_fp:
            raise RuntimeError(
                f"{path}: segment {next_sid} was partially applied with "
                f"DIFFERENT data (marker {have!r} vs batch {batch_fp!r}); "
                "clean the staged segment before appending new data"
            )
        return True

    # pass-through publish of the new segment's blocks into the bucketed
    # query table (hot-term-style append; no re-gather of old segments).
    # Idempotence, layer 2: Spark commits an append job atomically (staged
    # part files publish only at job commit), and the `_APPLIED_SEG_<sid>`
    # marker written immediately after lets a replayed batch SKIP a publish
    # that already committed — without it, a crash between job commit and
    # manifest write would double-publish the segment's rows on replay.
    # (Readers ignore underscore-prefixed files.)
    new_local = read_postings_local(spark, index_dir).filter(
        F.col("segment_id") == next_sid
    )
    post_marker = os.path.join(index_dir, "postings", f"_APPLIED_SEG_{next_sid}")
    if not _marker_ok(post_marker):
        (
            new_local.withColumn("term_bucket", term_bucket_col(config.term_buckets))
            .repartition(config.term_buckets, "term_bucket")
            .sortWithinPartitions("term", "segment_id", "block_id")
            .write.mode("append")
            .partitionBy("term_bucket")
            .parquet(os.path.join(index_dir, "postings"))
        )
        open(post_marker, "w").write(batch_fp)
        spark.catalog.refreshByPath(os.path.join(index_dir, "postings"))
    pos_local = os.path.join(index_dir, "positions_local")
    if config.positions and os.path.exists(
        os.path.join(pos_local, f"segment={next_sid}")
    ):
        pos_marker = os.path.join(
            index_dir, "positions", f"_APPLIED_SEG_{next_sid}"
        )
        if not _marker_ok(pos_marker):
            (
                spark.read.parquet(os.path.join(pos_local, f"segment={next_sid}"))
                .withColumn("term_bucket", term_bucket_col(config.term_buckets))
                .repartition(config.term_buckets, "term_bucket")
                .sortWithinPartitions("term", "doc_id")
                .write.mode("append")
                .partitionBy("term_bucket")
                .parquet(os.path.join(index_dir, "positions"))
            )
            open(pos_marker, "w").write(batch_fp)
            spark.catalog.refreshByPath(os.path.join(index_dir, "positions"))

    # this segment's term statistics, beside (not folded into) the base
    write_term_stats(spark, new_local, term_delta_dir(index_dir, next_sid),
                     one_file=True)

    # the doc-range co-located layout (if built) indexes only the BASE
    # segments' blocks — appended docs would be silently invisible to the
    # auto-routed doc-at-a-time path. Drop it; build_doc_partitioned
    # rebuilds on demand over the full postings table.
    layout_dir = os.path.join(index_dir, "postings_by_doc")
    if manifest.pop("doc_layout", None) is not None and os.path.exists(layout_dir):
        import shutil
        shutil.rmtree(layout_dir)

    return {"rows": rows, "next_sid": next_sid, "doc_base": doc_base,
            "n": int(n)}


def commit_staged_segment(index_dir: str, manifest: dict, staged: dict,
                          batch_id: int | None = None,
                          write: bool = True) -> dict:
    """Fold a ``stage_batch_segment`` result into the manifest and (by
    default) commit it — the single atomic visibility flip. ``update_docs``
    passes ``write=False`` to add its tombstone generation to the SAME
    manifest before the one write."""
    rows, next_sid = staged["rows"], staged["next_sid"]
    for r in rows:
        d = r.asDict()
        manifest["completed"][str(int(d["segment_id"]))] = {
            **{
                k: (int(v) if isinstance(v, (int, np.integer)) else v)
                for k, v in d.items()
                if k != "segment_id"
            },
            "appended": True,
            "batch_id": batch_id,
        }
    manifest["shards"][str(next_sid)] = {
        "offset": staged["doc_base"], "count": staged["n"]}
    manifest["ordered"] = False  # appended docIDs are arrival-ordered
    if batch_id is not None:
        manifest.setdefault("applied_batches", []).append(str(batch_id))
    manifest["generation"] += 1
    if write:
        write_manifest(index_dir, manifest)
    return manifest


def _stream(spark: SparkSession, source_dir: str, checkpoint_dir: str,
            handle, available_now: bool):
    """readStream(parquet transcripts) -> foreachBatch(``handle``).

    ``available_now=True`` drains what's there and stops (NRT catch-up /
    testable); False runs continuously with the default trigger."""
    writer = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(source_dir)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def stream_update(
    spark: SparkSession,
    source_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    available_now: bool = True,
):
    """readStream(parquet transcripts) -> foreachBatch(update_docs): the
    NRT UPSERT stream (re-crawled pages, corrected transcripts) — each
    micro-batch atomically REPLACES docs sharing a key with the batch
    and inserts the rest, one commit point per batch
    (``index/update.py``; the ``IndexWriter.updateDocuments`` loop every
    incremental-corpus pipeline runs). Exactly-once via the same
    batch-id + marker discipline as ``stream_append``."""
    from lucene_spark.index.update import update_docs

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        update_docs(spark, index_dir, batch_df, key_cols=key_cols,
                    batch_id=batch_id)

    return _stream(spark, source_dir, checkpoint_dir, handle, available_now)


def stream_append(
    spark: SparkSession,
    source_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """readStream(parquet transcripts) -> foreachBatch(append_batch)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        append_batch(spark, batch_df, index_dir, batch_id)

    return _stream(spark, source_dir, checkpoint_dir, handle, available_now)

"""Atomic document replace — the ``IndexWriter.updateDocuments`` analog.

Reference semantics mirrored (``core/index/IndexWriter.java:1488-1545``):
``updateDocuments(delTerm, docs)`` deletes every doc matching the term
and adds the new docs so that BOTH become visible at the SAME commit
point — a reader sees the old docs or the new docs, never neither and
never both. Here the "term" is a key-column tuple (e.g.
``(conv_id, turn_idx)``): existing docs whose key appears in the new
batch are tombstoned, the batch lands as a new segment, and ONE manifest
write flips both in together.

Spark-first mechanics (no reference code followed):
  - victims = docmap ⋈ distinct new-batch keys (committed segments only),
    one keyed join — never a driver-side key set;
  - the new segment stages through the streaming-append machinery
    (``stage_batch_segment``): its posting rows and its own term
    statistics are INVISIBLE to readers until commit because every
    searcher filters both to its manifest's max committed segment id;
  - the tombstones stage as a fresh delete GENERATION dir that no
    manifest references yet (``stage_delete_generation``);
  - ``commit_staged_segment(write=False)`` + the delete-generation keys
    land in one ``write_manifest`` — the atomic flip.

Crash/replay: every stage is idempotent (segment ``_APPLIED_SEG``
markers keyed by a batch fingerprint; term statistics and the delete
generation are deterministic overwrites). A crash anywhere before the
manifest write leaves readers on the old commit point; re-running
``update_docs`` with the same batch skips completed stages and finishes
the commit — verified by the kill-between-stages pytest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucene_spark.index.build import load_manifest, write_manifest
from lucene_spark.index.merge import max_segment_id


def update_docs(
    spark: SparkSession,
    index_dir: str,
    new_batch: DataFrame,
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    batch_id: int | None = None,
) -> dict:
    """Atomically replace docs keyed by ``key_cols`` with ``new_batch``
    (delete-by-key + add visible at ONE commit point); returns the new
    manifest. Keys absent from the index insert; index docs whose key is
    absent from the batch are untouched. Replays are exactly-once when a
    ``batch_id`` is given (the streaming-append contract)."""
    import os

    from lucene_spark.index.deletes import (
        prune_delete_generations, stage_delete_generation,
    )
    from lucene_spark.streaming.append import (
        commit_staged_segment, stage_batch_segment,
    )

    manifest = load_manifest(index_dir)
    if manifest is None or not manifest.get("merged"):
        raise ValueError(f"{index_dir}: index not built+merged")
    if batch_id is not None and str(batch_id) in manifest.get(
            "applied_batches", []):
        return manifest

    # victims: live committed docs sharing a key with the batch. The
    # committed-segment filter keeps a previously-crashed staged segment's
    # docmap rows out of the victim set (they were never visible).
    dm = spark.read.parquet(os.path.join(index_dir, "docmap")).filter(
        F.col("segment") <= max_segment_id(manifest))
    keys = new_batch.select(*key_cols).distinct()
    victims = dm.join(keys, on=list(key_cols)).select("doc_id")

    # stage the new segment (publishes rows invisible until commit)
    staged = stage_batch_segment(spark, new_batch, index_dir, manifest,
                                 batch_id)
    # stage the tombstone generation (dir no manifest references yet)
    del_gen = stage_delete_generation(spark, index_dir, manifest, victims)

    # ---- THE one commit: segment + tombstones together ----
    if staged is not None:
        commit_staged_segment(index_dir, manifest, staged, batch_id,
                              write=False)
    else:
        # empty batch: nothing to delete either (no keys) — still record
        # the batch as applied for exactly-once replay
        if batch_id is not None:
            manifest.setdefault("applied_batches", []).append(str(batch_id))
        manifest["generation"] += 1
    if del_gen is not None:
        manifest["has_deletes"] = True
        manifest["deletes_data"] = del_gen
    write_manifest(index_dir, manifest)
    prune_delete_generations(index_dir, manifest.get("deletes_data"))
    return manifest


#: docmap columns the engine owns — updating them would corrupt docID
#: assignment or silently DIVERGE from the norms baked into the postings
#: (field_len feeds SmallFloat norms at build time and norm_byte IS that
#: norm, also the source of the per-block impact bounds; a DV update cannot
#: reach them, exactly as the reference's DV updates cannot change norms)
_RESERVED_DV_COLS = frozenset(("doc_id", "segment", "field_len", "norm_byte"))


def update_doc_values(
    spark: SparkSession,
    index_dir: str,
    values: DataFrame,
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
) -> dict:
    """In-place doc-values update — the ``IndexWriter.updateDocValues`` /
    ``BufferedUpdates`` analog (``core/index/IndexWriter.java:1894``,
    ``core/index/BufferedUpdates.java``): re-label docs WITHOUT
    reindexing. ``values`` carries the key columns plus the columns to
    set; keyed docs get the new values (non-key columns coalesce over
    the old ones — a NULL in ``values`` keeps the old value), unkeyed
    docs keep theirs, and columns absent from the old docmap are ADDED
    (NULL for unkeyed docs — the reference's "update a field no doc had
    yet" arm).

    Spark-first mechanics: the docmap IS a parquet side table, so the
    update is one left join + a generation-swapped rewrite
    (``atomic.swap_dir``: staged fully, swapped in, listing refreshed,
    crash leaves the old table live) + a manifest bump. Scores are
    UNAFFECTED by construction (postings/norms untouched — the
    reference's DV-update property); every metadata surface (field
    filters, facets, function scores, sort fields, grouping) sees the
    new values on the next open. Reserved columns (docID assignment,
    norms) and a key repeated in ``values`` raise."""
    import os

    from pyspark.sql import functions as F

    from lucene_spark.index.atomic import recover_dir, swap_dir

    manifest = load_manifest(index_dir)
    if manifest is None or not manifest.get("merged"):
        raise ValueError(f"{index_dir}: index not built+merged")
    upd_cols = [c for c in values.columns if c not in key_cols]
    if not upd_cols:
        raise ValueError("values carries no non-key columns to update")
    bad = set(upd_cols) & _RESERVED_DV_COLS
    if bad:
        raise ValueError(
            f"cannot update engine-owned docmap columns {sorted(bad)}: "
            "doc_id/segment drive docID assignment and field_len/norm_byte "
            "are the norms already baked into the postings (rebuild or "
            "update_docs instead)")

    dm_path = os.path.join(index_dir, "docmap")
    recover_dir(dm_path)
    dm = spark.read.parquet(dm_path)
    missing = set(key_cols) - set(dm.columns)
    if missing:
        raise ValueError(f"key columns {sorted(missing)} not in docmap")
    # a repeated key would fan out the left join below and persist
    # duplicate docmap rows (duplicate doc_ids)
    dup = (values.groupBy(*key_cols).count()
           .filter(F.col("count") > 1).first())
    if dup is not None:
        raise ValueError(
            f"values has duplicate keys, e.g. "
            f"{tuple(dup[c] for c in key_cols)} x{dup['count']}")
    vals = values.select(
        *key_cols, *[F.col(c).alias(f"__new_{c}") for c in upd_cols])
    joined = dm.join(vals, on=list(key_cols), how="left")
    out_cols = []
    for c in dm.columns:
        if c in upd_cols:
            out_cols.append(
                F.coalesce(F.col(f"__new_{c}"), F.col(c)).alias(c))
        else:
            out_cols.append(F.col(c))
    for c in upd_cols:
        if c not in dm.columns:
            out_cols.append(F.col(f"__new_{c}").alias(c))
    tmp = dm_path + ".dvup"
    (joined.select(*out_cols)
     .write.mode("overwrite").partitionBy("segment").parquet(tmp))
    swap_dir(spark, tmp, dm_path)
    manifest["generation"] += 1
    write_manifest(index_dir, manifest)
    return manifest

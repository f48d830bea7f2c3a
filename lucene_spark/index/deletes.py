"""Document deletes — the PendingDeletes / liveDocs analog.

Reference semantics mirrored (``core/index/PendingDeletes.java``,
``LiveDocsFormat``): a delete is a TOMBSTONE — the doc drops out of every
query result immediately, but postings stay on disk and collection/term
statistics keep counting the deleted doc until a merge rewrites the
segments (Lucene's docFreq/sumTotalTermFreq likewise ignore deletes; its
``Weight#count`` shortcut refuses to answer when deletes exist). Scores of
surviving docs are therefore IDENTICAL before and after a delete, exactly
as in the reference.

Layout: the tombstone set is GENERATIONAL — each commit writes the full
set to ``deletes_g<generation>/`` and the manifest names the live
generation (``deletes_data``) alongside ``has_deletes``; both are
committed in the same atomic manifest write. Readers resolve the set
through their PINNED manifest, so (a) a staged-but-uncommitted tombstone
batch is invisible by construction (the ``update_docs`` atomic-replace
requirement) and (b) an open searcher never sees deletes committed after
it was opened — the reference's commit-point/``liveDocs`` semantics,
where each commit writes fresh ``.liv`` files and a ``DirectoryReader``
keeps the ones of its own commit point. Legacy flat ``deletes/`` dirs
(pre-generational manifests) remain readable and are migrated on the
next delete commit. Deletes are idempotent and replayable; a batch
re-delivery rewrites the same generation dir.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucene_spark.index.build import load_manifest, write_manifest
from lucene_spark.index.merge import (
    fold_term_deltas, max_segment_id, write_term_stats,
)

DELETES_DIR = "deletes"
STAGING_DIR = "deletes_expunge_staging"


def _range_delete_loader(staging: str):
    """Per-task lazy loader of one segment-range's sorted tombstone array.

    Reads only ``srange=<r>`` partitions of the staging parquet (pyarrow,
    single-threaded — N workers x default thread pools thrash the box).
    Tiny cache: the postings rewrite is pre-partitioned by segment and the
    row tables are hive-partitioned by segment, so a task's batches touch
    one (rarely a few) ranges."""
    cache: dict[int, "object"] = {}

    def load(rng: int):
        import numpy as np

        arr = cache.get(rng)
        if arr is None:
            import pyarrow as pa
            import pyarrow.parquet as pq

            pa.set_cpu_count(1)
            part = os.path.join(staging, f"srange={rng}")
            if os.path.isdir(part):
                t = pq.read_table(part, columns=["doc_id"], use_threads=False)
                arr = np.sort(t.column("doc_id").to_numpy(zero_copy_only=False)
                              .astype(np.int64))
            else:
                arr = np.empty(0, dtype=np.int64)
            if len(cache) >= 8:
                # evict ONE oldest entry (insertion-ordered dict = FIFO);
                # clearing the whole cache would evict the currently-hot
                # range and re-read the same staged parquet per batch when
                # a task straddles >8 ranges
                cache.pop(next(iter(cache)))
            cache[rng] = arr
        return arr

    return load


def _remap_batch(ids, bounds, below, load):
    """(keep_mask, new_ids) for a batch of docIDs under the closed-form
    remap new_id = old_id - |{deleted < old_id}| (``DocIDMerger.java:73-99``
    order-preserving semantics). |{deleted < id}| decomposes per segment
    range: below[range] (deletes in earlier ranges, O(num_segments) driver
    metadata) + searchsorted(range_dels, id) (this range's staged tombstones,
    loaded executor-side). The driver never materializes the tombstone set."""
    import numpy as np

    ids = ids.astype(np.int64)
    keep = np.ones(ids.size, dtype=bool)
    new = ids.copy()
    rng = np.searchsorted(bounds, ids, side="right") - 1
    for r in np.unique(rng):
        m = rng == r
        arr = load(int(r))
        sub = ids[m]
        pos = np.searchsorted(arr, sub)
        if arr.size:
            hit = (pos < arr.size) & (arr[np.minimum(pos, arr.size - 1)] == sub)
        else:
            hit = np.zeros(sub.size, dtype=bool)
        keep[m] = ~hit
        new[m] = sub - int(below[r]) - pos
    return keep, new


def stage_delete_generation(spark: SparkSession, index_dir: str,
                            manifest: dict,
                            extra: DataFrame | None) -> str | None:
    """Write (current tombstone set ∪ ``extra``) to the NEXT delete
    generation dir (``deletes_g<generation+1>``) WITHOUT committing —
    the caller flips ``has_deletes``/``deletes_data`` in its own single
    manifest write (``delete_docs``; ``update_docs`` folds this into the
    same commit as its new segment). Returns the staged dir name, or
    None when the combined set is empty. Idempotent: a replay overwrites
    the same deterministic dir."""
    parts = []
    old = read_deletes(spark, index_dir, manifest)
    if old is not None:
        parts.append(old)
    if extra is not None:
        parts.append(extra.select(F.col("doc_id").cast("long")))
    if not parts:
        return None
    full = parts[0]
    for p in parts[1:]:
        full = full.unionByName(p)
    full = full.distinct()
    gen = f"deletes_g{int(manifest['generation']) + 1}"
    full.write.mode("overwrite").parquet(os.path.join(index_dir, gen))
    # an all-unknown-ids batch still stages (unknown docs are ignored
    # harmlessly at search/expunge); emptiness only matters for old=None
    if old is None and extra is not None and full.limit(1).count() == 0:
        return None
    return gen


def prune_delete_generations(index_dir: str, keep: str | None) -> None:
    """Best-effort removal of superseded delete generations AFTER a
    commit (stale generations are garbage, never corruption — but pinned
    readers of older manifests lose their set; snapshot first for true
    point-in-time reads, the same contract as every other artifact)."""
    import shutil

    try:
        for name in os.listdir(index_dir):
            if (name.startswith("deletes_g") and name != keep
                    and os.path.isdir(os.path.join(index_dir, name))):
                shutil.rmtree(os.path.join(index_dir, name),
                              ignore_errors=True)
        legacy = os.path.join(index_dir, DELETES_DIR)
        if keep is not None and os.path.isdir(legacy):
            shutil.rmtree(legacy, ignore_errors=True)
    except OSError:
        pass


def delete_docs(spark: SparkSession, index_dir: str, doc_ids: DataFrame) -> dict:
    """Tombstone the given docs (DF with a ``doc_id`` column); returns the
    updated manifest. Docs unknown to the index are ignored harmlessly.
    One atomic commit: the new delete generation is staged first, the
    manifest names it last."""
    manifest = load_manifest(index_dir)
    if manifest is None or not manifest.get("merged"):
        raise ValueError(f"{index_dir}: index not built+merged")
    gen = stage_delete_generation(
        spark, index_dir, manifest,
        doc_ids.select(F.col("doc_id").cast("long")).distinct())
    manifest["has_deletes"] = gen is not None or bool(
        manifest.get("has_deletes"))
    if gen is not None:
        manifest["deletes_data"] = gen
    manifest["generation"] += 1
    write_manifest(index_dir, manifest)
    prune_delete_generations(index_dir, manifest.get("deletes_data"))
    return manifest


def soft_delete_docs(spark: SparkSession, index_dir: str,
                     doc_ids: DataFrame) -> dict:
    """SOFT-tombstone the given docs — the ``softUpdateDocument`` /
    soft-deletes-field analog (``core/index/SoftDeletesRetentionMergePolicy
    .java``, ``SoftDeletesDirectoryReaderWrapper``): the docs drop out of
    default search results exactly like hard tombstones, but remain fully
    present in the index — a reader opened with
    ``IndexSearcher(..., include_soft_deletes=True)`` (the reference's
    unwrapped reader) still sees them, and ``expunge_deletes`` can RETAIN
    them through the rewrite via a retention predicate instead of purging.

    Storage mirrors the hard set: a generational ``soft_deletes_g<N>``
    dir named by the manifest (``soft_deletes_data``), committed in one
    atomic manifest write."""
    manifest = load_manifest(index_dir)
    if manifest is None or not manifest.get("merged"):
        raise ValueError(f"{index_dir}: index not built+merged")
    parts = [doc_ids.select(F.col("doc_id").cast("long"))]
    old = read_soft_deletes(spark, index_dir, manifest)
    if old is not None:
        parts.append(old)
    full = parts[0]
    for p in parts[1:]:
        full = full.unionByName(p)
    gen = f"soft_deletes_g{int(manifest['generation']) + 1}"
    full.distinct().write.mode("overwrite").parquet(
        os.path.join(index_dir, gen))
    manifest["has_soft_deletes"] = True
    manifest["soft_deletes_data"] = gen
    manifest["generation"] += 1
    write_manifest(index_dir, manifest)
    _prune_soft_generations(index_dir, gen)
    return manifest


def _prune_soft_generations(index_dir: str, keep: str | None) -> None:
    import shutil

    try:
        for name in os.listdir(index_dir):
            if (name.startswith("soft_deletes_g") and name != keep
                    and os.path.isdir(os.path.join(index_dir, name))):
                shutil.rmtree(os.path.join(index_dir, name),
                              ignore_errors=True)
    except OSError:
        pass


def _soft_deletes_dir(index_dir: str, manifest: dict | None) -> str | None:
    if manifest is None:
        manifest = load_manifest(index_dir)
    if manifest is None or not manifest.get("soft_deletes_data"):
        return None
    p = os.path.join(index_dir, manifest["soft_deletes_data"])
    return p if os.path.isdir(p) else None


def _hard_deletes_dir(index_dir: str, manifest: dict | None) -> str | None:
    if manifest is None:
        manifest = load_manifest(index_dir)
    if manifest is not None and manifest.get("deletes_data"):
        p = os.path.join(index_dir, manifest["deletes_data"])
        if not os.path.isdir(p):
            raise FileNotFoundError(
                f"{p}: delete generation named by the manifest is gone; "
                "reopen the searcher on the current commit")
        return p
    p = os.path.join(index_dir, DELETES_DIR)
    return p if os.path.exists(p) else None


def tombstone_dirs(index_dir: str, manifest: dict,
                   include_soft: bool) -> list[str]:
    """The parquet dirs holding the commit point's tombstones: the hard
    set (``read_deletes``) and, with ``include_soft``, the soft set
    (``read_soft_deletes``)."""
    dirs = [_hard_deletes_dir(index_dir, manifest)]
    if include_soft:
        dirs.append(_soft_deletes_dir(index_dir, manifest))
    return [d for d in dirs if d is not None]


def read_tombstone_ids(dirs: list[str], cap: int):
    """Sorted distinct doc ids stored in ``dirs``, read on the driver with
    pyarrow (no Spark job), or None when their parquet footers count more
    than ``cap`` rows — the size is decided before any id is read."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.dataset as ds

    parts = [ds.dataset(d, format="parquet",
                        schema=pa.schema([("doc_id", pa.int64())]))
             for d in dirs]
    if sum(p.count_rows() for p in parts) > cap:
        return None
    return np.unique(np.concatenate(
        [np.zeros(0, dtype=np.int64)]
        + [p.to_table(columns=["doc_id"]).column("doc_id").to_numpy()
           for p in parts]))


def read_soft_deletes(spark: SparkSession, index_dir: str,
                      manifest: dict | None = None) -> DataFrame | None:
    """DF(doc_id) of SOFT tombstones at the manifest's commit point, or
    None."""
    p = _soft_deletes_dir(index_dir, manifest)
    return None if p is None else (
        spark.read.parquet(p).select("doc_id").distinct())


def read_deletes(spark: SparkSession, index_dir: str,
                 manifest: dict | None = None) -> DataFrame | None:
    """DF(doc_id) of tombstones, or None when the index has none.

    With a ``manifest``, the set is the one THAT COMMIT POINT named
    (``deletes_data`` generation dir) — a pinned searcher passes its own
    manifest and never sees later deletes or staged-uncommitted ones.
    Without one (legacy callers), falls back to the live manifest, then
    to the legacy flat ``deletes/`` dir. Raises FileNotFoundError when the
    manifest names a generation that is gone (pruned by a later commit):
    answering without it would resurrect that commit point's deleted docs."""
    p = _hard_deletes_dir(index_dir, manifest)
    return None if p is None else (
        spark.read.parquet(p).select("doc_id").distinct())


def expunge_deletes(spark: SparkSession, index_dir: str,
                    soft_retention=None) -> dict:
    """forceMerge/expungeDeletes analog: rewrite the index WITHOUT the
    tombstoned docs, remapping docIDs densely like the reference's merge
    (``DocIDMerger.java:73-99``). The remap is order-preserving and
    closed-form — new_id = old_id - |{deleted < old_id}| — fully
    executor-side: tombstones are staged to a per-segment-range parquet
    (one distributed write), the driver holds only O(num_segments) metadata
    (range bounds + cumulative below-counts), and each rewrite task lazily
    loads just the staged ranges it touches (bounded by segment size — the
    liveDocs-per-segment shape of the reference). A billion-row tombstone
    set never materializes on the driver:

      docmap      filter + remap, per-row
      postings    per-block decode -> drop deleted -> remap -> re-encode
                  (remap monotonicity preserves block-range disjointness;
                  emptied blocks drop out)
      positions   filter + remap (plain columns, no decode)
      term_dict   recomputed from the new block metadata (folding in the
                  appended segments' term-statistics deltas)
      manifest    per-segment doc counts/lengths refreshed, has_deletes
                  cleared, generation bumped — written atomically LAST

    After expunge, collection/term statistics EXCLUDE the deleted docs (the
    reference behaves identically after a merge), so scores equal a fresh
    build over the surviving corpus — asserted bit-exactly in tests.

    SOFT deletes (``soft_delete_docs``) follow the
    ``SoftDeletesRetentionMergePolicy`` contract: by default the merge
    purges them like hard tombstones (the reference without the retention
    policy); with ``soft_retention`` (a Column/SQL predicate over docmap
    rows, e.g. ``F.col("ts") > cutoff``) the soft-deleted docs MATCHING
    it are RETAINED through the rewrite — still excluded from default
    search, still readable via ``include_soft_deletes=True`` — with their
    ids remapped into the new dense docID space and re-committed as the
    next soft generation."""
    import shutil

    import numpy as np
    import pandas as pd

    from lucene_spark.index.build import load_manifest as _lm

    manifest = _lm(index_dir)
    if manifest is None or not manifest.get("merged"):
        raise ValueError(f"{index_dir}: index not built+merged")

    # ---- crash recovery: a commit marker means a previous expunge had
    # fully STAGED its rewrites and crashed somewhere in/after the swap
    # loop. Re-running the remap now would double-shift docIDs on the
    # already-swapped artifacts — instead, finish the recorded swaps
    # (skipping the ones that already happened) and commit the manifest.
    commit_marker = os.path.join(index_dir, "_EXPUNGE_COMMIT")
    if os.path.exists(commit_marker):
        import json as _json

        with open(commit_marker) as fh:
            rec = _json.load(fh)
        if isinstance(rec, dict):  # r5 format: swaps + soft carry-over
            planned = [tuple(x) for x in rec["swaps"]]
            soft_data = rec.get("soft_data")
        else:  # legacy marker: a plain swap list
            planned, soft_data = [tuple(x) for x in rec], None
        return _finish_expunge(spark, index_dir, manifest, planned,
                               soft_data)

    hard = (read_deletes(spark, index_dir, manifest)
            if manifest.get("has_deletes") else None)
    soft = (read_soft_deletes(spark, index_dir, manifest)
            if manifest.get("has_soft_deletes") else None)
    retained = None
    if soft is not None and soft_retention is not None:
        # retention predicate evaluates over the docmap ROW of each
        # soft-deleted doc (the reference evaluates the retention query
        # against the reader) — matches survive the merge, still soft
        dm_rows = spark.read.parquet(
            os.path.join(index_dir, "docmap")).join(soft, "doc_id")
        pred = (F.expr(soft_retention) if isinstance(soft_retention, str)
                else soft_retention)
        retained = dm_rows.filter(pred).select("doc_id")
        soft = soft.join(retained, "doc_id", "left_anti")  # the purge part
    parts = [p for p in (hard, soft) if p is not None]
    if not parts:
        return manifest
    dd = parts[0]
    for p in parts[1:]:
        dd = dd.unionByName(p).distinct()

    # segment doc-ranges — the ONLY thing the driver materializes is
    # O(num_segments) metadata; the tombstone set itself never leaves the
    # executors (round-2's sorted-collect remap was a driver OOM at
    # GDPR-purge tombstone volumes)
    ranges = sorted(
        (int(v["doc_lo"]), int(v["num_docs"]))
        for v in manifest["completed"].values()
        if int(v["num_docs"]) > 0
    )
    total_docs = sum(n for _, n in ranges)
    bounds = np.array([lo for lo, _ in ranges], dtype=np.int64)

    # stage tombstones partitioned by owning segment range: each rewrite
    # task later loads only the ranges it touches, bounded by segment size.
    # Tombstones outside the dense docID range would SHIFT the closed-form
    # remap for every real doc — drop them here ("unknown docs ignored
    # harmlessly").
    staging = os.path.join(index_dir, STAGING_DIR)

    @F.pandas_udf("int")
    def _srange(ids):
        import numpy as np
        import pandas as pd

        a = ids.to_numpy(np.int64)
        return pd.Series(np.searchsorted(bounds, a, side="right") - 1)

    staged = dd.filter(
        (F.col("doc_id") >= 0) & (F.col("doc_id") < total_docs)
    ).select("doc_id", _srange(F.col("doc_id")).alias("srange"))
    per_range = {
        int(r["srange"]): int(r["n"])
        for r in staged.groupBy("srange").agg(F.count("*").alias("n")).collect()
    }  # O(num_segments) rows
    below = np.zeros(len(ranges), dtype=np.int64)
    acc = 0
    for i in range(len(ranges)):
        below[i] = acc
        acc += per_range.get(i, 0)
    if acc == 0:
        shutil.rmtree(os.path.join(index_dir, DELETES_DIR),
                      ignore_errors=True)
        manifest["has_deletes"] = False
        manifest.pop("deletes_data", None)
        manifest["generation"] += 1
        # no docID moved — retained soft deletes keep their ids; an
        # all-bogus soft purge set clears like the hard one
        if manifest.get("has_soft_deletes"):
            if retained is not None and retained.limit(1).count() > 0:
                gen = f"soft_deletes_g{int(manifest['generation'])}"
                retained.write.mode("overwrite").parquet(
                    os.path.join(index_dir, gen))
                manifest["soft_deletes_data"] = gen
                _prune_soft_generations(index_dir, gen)
            else:
                manifest["has_soft_deletes"] = False
                manifest.pop("soft_deletes_data", None)
                _prune_soft_generations(index_dir, keep=None)
        # no docID moved: a doc-range layout stays byte-for-byte valid —
        # carry its generation stamp forward so it is not needlessly rebuilt
        if manifest.get("doc_layout"):
            manifest["doc_layout"]["built_at_generation"] = manifest["generation"]
        write_manifest(index_dir, manifest)
        # pruned only after the commit: read_deletes raises on a
        # manifest whose named generation is gone
        prune_delete_generations(index_dir, keep=None)
        return manifest

    staged.write.mode("overwrite").partitionBy("srange").parquet(staging)

    # two-phase commit: EVERY rewrite lands in a .expunge sibling first;
    # then the commit marker is written and the swaps all happen in
    # _finish_expunge. A crash before the marker leaves the live index
    # untouched; after it, the resume path above finishes the job.
    swaps: list[tuple[str, str]] = []

    # ---- docmap: filter + remap (keeps the segment hive-partitioning)
    dm_path = os.path.join(index_dir, "docmap")
    dm = spark.read.parquet(dm_path)
    dm_cols = [c for c in dm.columns if c != "segment"]

    def remap_docmap(batches):
        load = _range_delete_loader(staging)
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy(np.int64)
            keep, new = _remap_batch(ids, bounds, below, load)
            out = pdf[keep].copy()
            out["doc_id"] = new[keep]
            yield out

    tmp = dm_path + ".expunge"
    (
        dm.select(*dm_cols, F.col("segment"))
        .mapInPandas(remap_docmap, schema=dm.select(*dm_cols, "segment").schema)
        .write.mode("overwrite").partitionBy("segment").parquet(tmp)
    )
    swaps.append((tmp, dm_path))

    # ---- postings: per-block filter + remap + re-encode
    post_path = os.path.join(index_dir, "postings")
    post = spark.read.parquet(post_path)

    def rewrite_blocks(batches):
        from lucene_spark.functions.codec import (
            competitive_impacts, decode_block, encode_block,
        )

        load = _range_delete_loader(staging)
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                d, f, nb = decode_block(r.data, int(r.num_docs), int(r.first_doc))
                keep, new = _remap_batch(d, bounds, below, load)
                if not keep.any():
                    continue
                d2 = new[keep]
                f2, n2 = f[keep], nb[keep]
                imp_f, imp_n = competitive_impacts(f2, n2)
                rows.append({
                    "term": r.term, "segment_id": r.segment_id,
                    "block_id": r.block_id, "first_doc": int(d2[0]),
                    "last_doc": int(d2[-1]), "num_docs": int(d2.size),
                    "ttf": int(f2.sum()),
                    "data": encode_block(d2, f2, int(d2[0]), n2),
                    "impact_freqs": imp_f, "impact_norms": imp_n,
                    "term_bucket": r.term_bucket,
                })
            yield pd.DataFrame(rows) if rows else pd.DataFrame(
                {c: pd.Series(dtype=t) for c, t in (
                    ("term", object), ("segment_id", np.int32),
                    ("block_id", np.int32), ("first_doc", np.int64),
                    ("last_doc", np.int64), ("num_docs", np.int32),
                    ("ttf", np.int64), ("data", object),
                    ("impact_freqs", object), ("impact_norms", object),
                    ("term_bucket", np.int32),
                )}
            )

    schema = ("term string, segment_id int, block_id int, first_doc long, "
              "last_doc long, num_docs int, ttf long, data binary, "
              "impact_freqs array<int>, impact_norms array<int>, term_bucket int")
    tmp = post_path + ".expunge"
    (
        # pre-partition by (segment, bucket) so each rewrite task loads only
        # its own segments' staged tombstones (a bare term_bucket scan
        # interleaves every segment and thrashes the per-task range cache),
        # while the bucket component keeps the task count at segments x
        # buckets instead of hash-collapsing to <= num_segments tasks
        post.repartition(
            max(spark.sparkContext.defaultParallelism, 1),
            "segment_id", "term_bucket",
        )
        .mapInPandas(rewrite_blocks, schema=schema)
        .repartition(int(manifest["config"]["term_buckets"]), "term_bucket")
        .sortWithinPartitions("term", "segment_id", "block_id")
        .write.mode("overwrite").partitionBy("term_bucket").parquet(tmp)
    )
    swaps.append((tmp, post_path))

    # ---- postings_local (pre-merge per-segment table): same rewrite, so
    # check_index / append / re-merge all see a consistent artifact set
    local_path = os.path.join(index_dir, "postings_local")
    if os.path.exists(local_path):
        loc = spark.read.parquet(local_path).withColumnRenamed(
            "segment", "part_segment"
        )
        loc_schema = ("term string, segment_id int, block_id int, "
                      "first_doc long, last_doc long, num_docs int, ttf long, "
                      "data binary, impact_freqs array<int>, "
                      "impact_norms array<int>, part_segment int")

        def rewrite_local(batches):
            from lucene_spark.functions.codec import (
                competitive_impacts, decode_block, encode_block,
            )

            load = _range_delete_loader(staging)
            for pdf in batches:
                rows = []
                for r in pdf.itertuples(index=False):
                    d, f, nb = decode_block(r.data, int(r.num_docs),
                                            int(r.first_doc))
                    keep, new = _remap_batch(d, bounds, below, load)
                    if not keep.any():
                        continue
                    d2 = new[keep]
                    f2, n2 = f[keep], nb[keep]
                    imp_f, imp_n = competitive_impacts(f2, n2)
                    rows.append({
                        "term": r.term, "segment_id": r.segment_id,
                        "block_id": r.block_id, "first_doc": int(d2[0]),
                        "last_doc": int(d2[-1]), "num_docs": int(d2.size),
                        "ttf": int(f2.sum()),
                        "data": encode_block(d2, f2, int(d2[0]), n2),
                        "impact_freqs": imp_f, "impact_norms": imp_n,
                        "part_segment": r.part_segment,
                    })
                yield pd.DataFrame(rows) if rows else pd.DataFrame(
                    {c: pd.Series(dtype=object) for c in (
                        "term", "segment_id", "block_id", "first_doc",
                        "last_doc", "num_docs", "ttf", "data",
                        "impact_freqs", "impact_norms", "part_segment")}
                )

        tmp = local_path + ".expunge"
        (
            loc.mapInPandas(rewrite_local, schema=loc_schema)
            .withColumnRenamed("part_segment", "segment")
            .write.mode("overwrite").partitionBy("segment").parquet(tmp)
        )
        swaps.append((tmp, local_path))

    pos_local = os.path.join(index_dir, "positions_local")
    if os.path.exists(pos_local):
        pl = spark.read.parquet(pos_local)

        def remap_pos_local(batches):
            load = _range_delete_loader(staging)
            for pdf in batches:
                ids = pdf["doc_id"].to_numpy(np.int64)
                keep, new = _remap_batch(ids, bounds, below, load)
                out = pdf[keep].copy()
                out["doc_id"] = new[keep]
                yield out

        tmp = pos_local + ".expunge"
        (
            pl.mapInPandas(remap_pos_local, schema=pl.schema)
            .write.mode("overwrite").partitionBy("segment").parquet(tmp)
        )
        swaps.append((tmp, pos_local))

    # ---- positions: plain filter + remap
    pos_path = os.path.join(index_dir, "positions")
    if os.path.exists(pos_path):
        ptab = spark.read.parquet(pos_path)

        def remap_pos(batches):
            load = _range_delete_loader(staging)
            for pdf in batches:
                ids = pdf["doc_id"].to_numpy(np.int64)
                keep, new = _remap_batch(ids, bounds, below, load)
                out = pdf[keep].copy()
                out["doc_id"] = new[keep]
                yield out

        tmp = pos_path + ".expunge"
        (
            ptab.mapInPandas(remap_pos, schema=ptab.schema)
            .write.mode("overwrite").partitionBy("term_bucket").parquet(tmp)
        )
        swaps.append((tmp, pos_path))

    # ---- term_dict from the new block metadata of the committed segments
    td_path = os.path.join(index_dir, "term_dict")
    write_term_stats(
        spark, spark.read.parquet(post_path + ".expunge").filter(
            F.col("segment_id") <= max_segment_id(manifest)),
        td_path + ".expunge")
    swaps.append((td_path + ".expunge", td_path))

    # ---- retained soft deletes: remap into the post-purge docID space
    # executor-side (same closed form and staged ranges as everything
    # else) and commit as the NEXT soft generation. Written BEFORE the
    # marker so the crash-resume path only has to re-point the manifest.
    soft_data = None
    if retained is not None:

        def remap_soft(batches):
            load = _range_delete_loader(staging)
            for pdf in batches:
                if pdf.empty:
                    yield pdf
                    continue
                ids = pdf["doc_id"].to_numpy(np.int64)
                keep, new = _remap_batch(ids, bounds, below, load)
                out = pdf[keep].copy()
                out["doc_id"] = new[keep]
                yield out

        gen = f"soft_deletes_g{int(manifest['generation']) + 1}"
        (retained.mapInPandas(remap_soft, schema="doc_id long")
         .write.mode("overwrite")
         .parquet(os.path.join(index_dir, gen)))
        if spark.read.parquet(
                os.path.join(index_dir, gen)).limit(1).count() > 0:
            soft_data = gen

    # all rewrites staged — record the COMMIT INTENT durably, then swap.
    # A crash before the marker leaves the live index untouched (stale
    # .expunge dirs are simply overwritten next time); a crash after it is
    # finished by the resume path above, which never re-runs the remap.
    import json as _json

    tmp_marker = commit_marker + ".tmp"
    with open(tmp_marker, "w") as fh:
        _json.dump({"swaps": swaps, "soft_data": soft_data}, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.rename(tmp_marker, commit_marker)
    return _finish_expunge(spark, index_dir, manifest, swaps, soft_data)


def _finish_expunge(spark: SparkSession, index_dir: str, manifest: dict,
                    swaps: list[tuple[str, str]],
                    soft_data: str | None = None) -> dict:
    """Swap the staged .expunge dirs in (skipping any a prior crashed
    attempt already swapped), recompute per-segment stats from the LIVE
    docmap, commit the manifest, and clear the tombstones + marker.
    Idempotent: safe to re-enter after a crash at any point."""
    import shutil

    from lucene_spark.index.atomic import finish_swaps

    finish_swaps(spark, swaps)
    fold_term_deltas(index_dir, manifest)

    # ---- manifest: per-segment stats from the (now live) docmap
    dm_path = os.path.join(index_dir, "docmap")
    seg_stats = {
        int(r["segment"]): r
        for r in spark.read.parquet(dm_path)
        .groupBy("segment")
        .agg(
            F.count("*").alias("n"),
            F.min("doc_id").alias("lo"),
            F.sum("field_len").alias("sfl"),
        )
        .collect()
    }
    for sid, entry in manifest["completed"].items():
        st = seg_stats.get(int(sid))
        if st is None:
            entry["num_docs"] = 0
            entry["sum_field_len"] = 0
        else:
            entry["num_docs"] = int(st["n"])
            entry["doc_lo"] = int(st["lo"])
            entry["sum_field_len"] = int(st["sfl"])

    # the doc-range co-located layout was built from the OLD postings with
    # OLD docIDs — stale on both axes after the remap. Drop it; it is
    # rebuilt on demand by build_doc_partitioned.
    layout_dir = os.path.join(index_dir, "postings_by_doc")
    if manifest.pop("doc_layout", None) is not None and os.path.exists(layout_dir):
        shutil.rmtree(layout_dir)

    deletes_dir = os.path.join(index_dir, DELETES_DIR)
    if os.path.exists(deletes_dir):
        shutil.rmtree(deletes_dir)
    prune_delete_generations(index_dir, keep=None)
    staging_dir = os.path.join(index_dir, STAGING_DIR)
    if os.path.exists(staging_dir):
        shutil.rmtree(staging_dir)
    manifest["has_deletes"] = False
    manifest.pop("deletes_data", None)
    # soft deletes: the purged part went with the rewrite; the retained
    # part (already remapped, staged pre-marker) becomes the live set
    if soft_data is not None:
        manifest["has_soft_deletes"] = True
        manifest["soft_deletes_data"] = soft_data
    else:
        manifest["has_soft_deletes"] = False
        manifest.pop("soft_deletes_data", None)
    _prune_soft_generations(index_dir, keep=soft_data)
    manifest["expunged"] = True
    manifest["generation"] += 1
    write_manifest(index_dir, manifest)
    os.remove(os.path.join(index_dir, "_EXPUNGE_COMMIT"))
    return manifest

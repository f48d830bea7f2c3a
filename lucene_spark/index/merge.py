"""Global merge: term-partitioned shuffle with hot-term salting + term_dict.

The Spark analog of the reference's segment merge (public Apache Lucene
source, semantics only): ``SegmentMerger.mergeTerms`` does a k-way sorted-term
union with docID remapping (``SegmentMerger.java:114-182``,
``FieldsConsumer.java:72``). Our docIDs are already global and per-segment doc
ranges are disjoint & ordered, so "merge" is a layout + stats job, not a
remap:

  1. ``term_dict``: global (doc_freq, total_term_freq) per term via a plain
     groupBy-sum — map-side partial aggregation makes Zipf skew harmless here.
  2. ``postings``: the query-facing table, hash-partitioned into
     ``term_bucket`` directories and sorted by term within files so a term
     lookup prunes both partitions and parquet row groups.
     - cold terms (df < hot_term_df): all blocks of a term are re-gathered in
       one applyInPandas group and re-encoded into dense 256-doc blocks
       (tiny tail blocks from many segments collapse into full blocks).
     - hot terms (df >= hot_term_df — the Zipf head; StandardAnalyzer keeps
       stopwords!): NEVER gathered into one task. Their per-segment blocks are
       already globally ordered (disjoint doc ranges), so they pass through
       unchanged and the shuffle spreads them by (term, segment) — this is the
       explicit skew-salting stage (SURVEY.md §7 R3). At 10^12 turns a
       stopword's posting list is ~10^11 entries; any design that funnels it
       through one task is dead on arrival.

Spark jobs with positions off (7; counted by ``perfbench`` on local[4]):
the term_dict partial aggregate, its range-partitioned final aggregate and
its write; one collect of the hot-term list; the cold rows' merge-bucket
shuffle; the re-gather (applyInPandas) unioned with the hot pass-through;
the postings write. ``postings_local`` and ``term_dict`` are read with
explicit schemas, so no schema-inference job runs. Positions, when indexed,
add their own relayout jobs.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucene_spark.index.build import (
    POSTINGS_SCHEMA,
    IndexConfig,
    load_manifest,
    read_postings_local,
    write_manifest,
)

MERGED_SEGMENT_ID = -1

_TERM_DICT_SCHEMA = (
    "term string, doc_freq long, total_term_freq long, num_blocks long"
)


def merge_index(spark: SparkSession, index_dir: str) -> dict:
    """Produce ``term_dict/`` and query-facing ``postings/`` from
    ``postings_local/``; marks the manifest merged."""
    manifest = load_manifest(index_dir)
    if manifest is None:
        raise ValueError(f"no manifest at {index_dir}; build first")
    config = IndexConfig(**manifest["config"])
    local = read_postings_local(spark, index_dir)

    # ---- 1. term_dict (map-side combine handles skew)
    term_dict = (
        local.groupBy("term")
        .agg(
            F.sum("num_docs").cast("long").alias("doc_freq"),
            F.sum("ttf").cast("long").alias("total_term_freq"),
            F.count("*").cast("long").alias("num_blocks"),
        )
    )
    td_path = os.path.join(index_dir, "term_dict")
    (
        term_dict.repartitionByRange(max(spark.sparkContext.defaultParallelism // 4, 1), "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(td_path)
    )

    # ---- 2. global postings
    # the hot-term list comes to the driver ONCE and tags rows as a literal
    # set: it holds at most total postings / hot_term_df terms (the Zipf
    # head). A broadcast join would run its broadcast once per side: the
    # optimizer plans the hot side as an inner join, so they share no exchange.
    hot_terms = [
        r["term"] for r in read_term_dict(spark, index_dir)
        .filter(F.col("doc_freq") >= config.hot_term_df).select("term").collect()
    ]
    is_hot = F.col("term").isin(hot_terms)
    cold = local.filter(~is_hot)
    hot_rows = local.filter(is_hot)

    # re-merge cold terms BUCKET-at-a-time: one pandas group per term would
    # mean one Arrow round-trip per term (tens of thousands); per-bucket
    # groups amortize that and let the vectorized batch encoder re-block
    # every term in the bucket in one numpy pass.
    n_buckets = max(config.term_buckets, spark.sparkContext.defaultParallelism)
    merged_cold = (
        cold.withColumn("merge_bucket", term_bucket_col(n_buckets))
        .groupBy("merge_bucket")
        .applyInPandas(_remerge_bucket, POSTINGS_SCHEMA)
    )

    buckets = config.term_buckets
    out = merged_cold.unionByName(hot_rows).withColumn(
        "term_bucket", term_bucket_col(buckets)
    )
    post_path = os.path.join(index_dir, "postings")
    (
        out.repartition(buckets, "term_bucket")
        .sortWithinPartitions("term", "segment_id", "block_id")
        .write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(post_path)
    )

    # ---- 3. global positions (PhraseQuery support): pass-through relayout
    # into term_bucket dirs sorted by term — docIDs are already global, so
    # "merging" positions is pure partitioning (the .pos-file analog of the
    # reference's column split, Lucene104PostingsFormat.java:64-79: queries
    # that don't need positions never touch this table)
    pos_local = os.path.join(index_dir, "positions_local")
    if os.path.exists(pos_local):
        (
            spark.read.parquet(pos_local)
            .drop("segment")
            .withColumn("term_bucket", term_bucket_col(buckets))
            .repartition(buckets, "term_bucket")
            .sortWithinPartitions("term", "doc_id")
            .write.mode("overwrite")
            .partitionBy("term_bucket")
            .parquet(os.path.join(index_dir, "positions"))
        )

    manifest["merged"] = True
    manifest["generation"] += 1
    write_manifest(index_dir, manifest)
    return manifest


def _remerge_bucket(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
    """Re-encode ALL cold terms of one bucket into dense merged blocks.

    Rows arrive as (term, segment) blocks from every segment; segment doc
    ranges are disjoint and ascending in segment_id, so per term the
    (segment_id, block_id) order yields globally sorted docIDs — concatenate
    and re-block with the vectorized batch encoder, no docID remap
    (contrast ``DocIDMerger.java:73-99``).
    """
    from lucene_spark.functions.codec import decode_blocks_batch, encode_postings_batch

    if not len(pdf):
        return pd.DataFrame(
            columns=["term", "segment_id", "block_id", "first_doc", "last_doc",
                     "num_docs", "ttf", "data", "impact_freqs", "impact_norms"]
        )
    pdf = pdf.sort_values(["term", "segment_id", "block_id"], kind="mergesort")
    sizes = pdf["num_docs"].to_numpy(np.int64)
    docs, freqs, norms = decode_blocks_batch(
        pdf["data"].to_numpy(object), sizes, pdf["first_doc"].to_numpy(np.int64))

    terms = pdf["term"].to_numpy(object)
    # per-term posting ranges in the concatenated arrays
    tchange = np.concatenate(([True], terms[1:] != terms[:-1]))
    row_ends = np.cumsum(sizes)
    row_starts = row_ends - sizes
    starts = row_starts[tchange]
    term_of = terms[tchange]
    ends = np.concatenate((starts[1:], [docs.size]))

    batch = encode_postings_batch(docs, freqs, norms, starts, ends)
    out = pd.DataFrame(
        {
            "term": term_of[batch["term_idx"]],
            "segment_id": np.full(len(batch["block_id"]), MERGED_SEGMENT_ID, dtype=np.int32),
            "block_id": batch["block_id"],
            "first_doc": batch["first_doc"],
            "last_doc": batch["last_doc"],
            "num_docs": batch["num_docs"],
            "ttf": batch["ttf"],
            "data": batch["data"],
            "impact_freqs": batch["impact_freqs"],
            "impact_norms": batch["impact_norms"],
        }
    )
    return out


def read_postings(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(index_dir, "postings"))


def read_term_dict(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.schema(_TERM_DICT_SCHEMA).parquet(
        os.path.join(index_dir, "term_dict"))


def term_bucket_col(buckets: int):
    """Bucket expression: first 8 hex chars of md5(term) mod buckets.

    md5 is identical in Spark, DuckDB and Python hashlib, so the driver can
    compute a term's bucket locally (partition pruning without a Spark job)
    and oracle SQL can reproduce it."""
    return (
        F.conv(F.substring(F.md5(F.col("term")), 1, 8), 16, 10).cast("long")
        % F.lit(buckets)
    ).cast("int")


def term_bucket_of(term: str, buckets: int) -> int:
    """Driver-side bucket of a term (must match term_bucket_col)."""
    import hashlib

    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16) % buckets

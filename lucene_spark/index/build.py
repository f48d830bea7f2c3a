"""Distributed index build: per-partition segment construction + manifest.

Spark-first re-expression of the reference's indexing chain (public Apache
Lucene source, for semantics only):

  - one Spark task builds one segment, like one DWPT builds an in-memory
    segment with no cross-thread sync (``DocumentsWriterPerThread.java:52``);
    we use ``groupBy(shard).applyInPandas`` so a whole shard arrives as one
    pandas frame.
  - docIDs are dense, 0-based, assigned in stable (conv_id, turn_idx) order
    (insertion-order analog of ``IndexingChain.java:552``); shard doc-ranges
    are disjoint and ordered, so docIDs are globally dense with no remap at
    merge time (vs ``DocIDMerger.java:73-99``).
  - per-field norms: ``SmallFloat.intToByte4(field_len)`` with
    discountOverlaps (``Similarity.java:153-164``).
  - flush -> codec: terms sorted, postings delta-block-encoded with impact
    skylines (``FreqProxTermsWriter.java:83-131`` ->
    ``Lucene104PostingsWriter``), here via lucene_spark.functions.codec.
  - commit: a generational manifest written atomically LAST
    (``SegmentInfos.java:124-135`` ``segments_N`` analog) records per-segment
    lineage + metrics; a rerun skips completed segments (resumable build).

Scale notes (the design must survive 10^12 turns / 1000 executors):
  - shard boundaries are computed ONCE over the sorted conv_id domain and
    persisted in the manifest, so resume re-derives the identical partitioning
    (at sandbox scale we sort the distinct conv_ids exactly; at 10^12 turns the
    same slot takes persisted approx-quantile boundaries — the contract is
    only "boundaries are frozen in the manifest at first run").
  - no global window/row_number (single-partition bottleneck): dense docIDs
    come from per-shard counts + cumulative offsets, one tiny collect.
  - all row work is vectorized pandas/numpy inside Arrow UDFs; segment files
    are written executor-side with pyarrow (fixed per-segment filenames, so
    task retries overwrite idempotently), only O(num_segments) metadata rows
    return to the driver.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "manifest.json"

POSTINGS_FIELDS = [
    ("term", "string"),
    ("segment_id", "int"),
    ("block_id", "int"),
    ("first_doc", "long"),
    ("last_doc", "long"),
    ("num_docs", "int"),
    ("ttf", "long"),
    ("data", "binary"),
    ("impact_freqs", "array<int>"),
    ("impact_norms", "array<int>"),
]

SEGMENT_META_SCHEMA = (
    "segment_id int, doc_lo long, num_docs long, sum_field_len long, "
    "num_terms long, num_postings long, num_blocks long, postings_bytes long, "
    "input_rows long, conv_lo string, conv_hi string, checksum long, wall_s double"
)


#: estimated in-memory build footprint per raw text byte (tokenized object
#: arrays + per-partition postings dicts dominate) — the constant behind the
#: flush_ram_mb policy. An ESTIMATE, like Lucene's RAM accounting; it sizes
#: task granularity, never correctness.
RAM_EXPANSION = 8


@dataclass
class IndexConfig:
    num_segments: int = 8
    term_buckets: int = 16
    # terms with global df >= this are "hot": kept segment-blocked in the
    # merge (salted pass-through) instead of being re-gathered in one task
    hot_term_df: int = 1 << 16
    # analysis chain (lucene_spark.functions.analysis.ANALYZERS)
    analyzer: str = "standard"
    # store per-(term, doc) token positions (PhraseQuery support) — the
    # reference default IndexOptions for text fields includes positions
    positions: bool = True
    # store per-occurrence CHAR OFFSETS alongside positions
    # (IndexOptions.DOCS_AND_FREQS_AND_POSITIONS_AND_OFFSETS,
    # ``core/index/IndexOptions.java:29-50``): enables offset-backed
    # highlighting without re-scanning stored text. Requires positions and
    # a simple-base analyzer (regex spans ARE the token boundaries);
    # non-ASCII rows degrade to no-offsets (-1) and the highlighter falls
    # back to the regex path for them.
    offsets: bool = False
    # store per-occurrence float PAYLOADS alongside positions
    # (IndexOptions payloads surface, ``core/index/FieldInfo.java``
    # storePayloads; carried in by DelimitedPayloadTokenFilter semantics —
    # ``analysis-common/.../payloads/DelimitedPayloadTokenFilter.java:33``
    # with FloatEncoder). Requires positions and the whitespace_payload
    # chain ("term|0.75" tokens); tokens without a parseable payload store
    # NaN (= no payload; scorers skip them, like the reference's null
    # payloads). Enables PayloadScoreQuery (IndexSearcher.payload_score).
    payloads: bool = False
    # IndexWriterConfig.setIndexSort analog: name of an INTEGER or TIMESTAMP
    # metadata column (must be non-null); docIDs are then assigned in
    # ascending order of that column (ties: conv_id, turn_idx) instead of
    # (conv_id, turn_idx), so top-k-by-field queries on it early-terminate
    # (search_sorted). Only the shuffle build path (build_index) honors it;
    # the file-aligned build (build_index_files) takes doc order from the
    # files and rejects the option.
    index_sort: str | None = None
    # FlushByRamOrCountsPolicy analog (``core/index/
    # FlushByRamOrCountsPolicy.java:32``): Lucene flushes a DWPT when its
    # buffered RAM exceeds ramBufferSizeMB or its doc count exceeds
    # maxBufferedDocs. Here the flush unit is the shard, so the policy sets
    # shard GRANULARITY: segment count is raised until no build task is
    # expected to buffer more than flush_ram_mb (RAM_EXPANSION x raw text
    # bytes) / hold more than flush_max_docs rows. flush_ram_mb additionally
    # switches boundaries to BYTE-weighted quantiles so a skewed corpus (a
    # few huge conversations) cannot concentrate the bytes in one task.
    # num_segments stays the floor. Ignored by the file-aligned build
    # (files are the flush units there).
    flush_ram_mb: int | None = None
    flush_max_docs: int | None = None

    def to_json(self) -> dict:
        return asdict(self)


def _sort_key_col(df, field: str):
    """int64 sort key for the index_sort column: micros for timestamps
    (exact — Spark timestamps are micros), plain cast for integrals. The
    pandas twin is _sort_key_np; both must order identically."""
    from pyspark.sql.types import TimestampNTZType, TimestampType

    dt = df.schema[field].dataType
    if isinstance(dt, (TimestampType, TimestampNTZType)):
        return F.unix_micros(F.col(field).cast("timestamp"))
    return F.col(field).cast("long")


def _sort_key_np(series: "pd.Series") -> "np.ndarray":
    """pandas twin of _sort_key_col (int64, micros for datetimes)."""
    if series.dtype.kind == "M":
        return series.to_numpy("datetime64[us]").astype(np.int64)
    return series.to_numpy(np.int64)


# ------------------------------------------------------------------ manifest

def load_manifest(index_dir: str) -> dict | None:
    p = os.path.join(index_dir, MANIFEST)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def write_manifest(index_dir: str, manifest: dict) -> None:
    """Atomic publish: write tmp, fsync, rename (SegmentInfos commit analog)."""
    os.makedirs(index_dir, exist_ok=True)
    p = os.path.join(index_dir, MANIFEST)
    tmp = p + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, p)


# ------------------------------------------------------------------ build

def _check_config(config: IndexConfig) -> None:
    """Reject an IndexConfig no build can honour, before any Spark job:
    offsets and payloads need positions and their analyzer base, the
    Polish chain its stempel resources, and tf-override chains no
    positions. Both builds call it."""
    from lucene_spark.functions.analysis import CHAIN_BASE, TF_CHAINS

    if config.offsets:
        if not config.positions:
            raise ValueError("offsets require positions=True")
        if CHAIN_BASE.get(config.analyzer) not in ("simple", "standard"):
            raise ValueError(
                "offsets require a simple- or standard-base analyzer "
                "(their regexes report the exact token spans)"
            )
    if config.payloads:
        if not config.positions:
            raise ValueError("payloads require positions=True")
        if CHAIN_BASE.get(config.analyzer) != "whitespace":
            raise ValueError(
                "payloads require a whitespace-base payload chain "
                "(DelimitedPayloadTokenFilter semantics); use "
                "analyzer='whitespace_payload'"
            )
    if config.analyzer == "polish":
        from lucene_spark.functions import stempel

        # the chain's table and stop file are read at run time; without
        # them the first analyze task would fail, wrapped by Spark
        stempel.require()
    if config.analyzer in TF_CHAINS and config.positions:
        # DelimitedTermFrequencyTokenFilter contract: the field must be
        # indexed DOCS_AND_FREQS with no positions or offsets (the filter's
        # javadoc; IndexingChain rejects posIncr attributes alongside a
        # custom TermFrequencyAttribute)
        raise ValueError(
            "tf-override chains require positions=False "
            "(DOCS_AND_FREQS only, DelimitedTermFrequencyTokenFilter)"
        )


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    index_dir: str,
    config: IndexConfig | None = None,
    resume: bool = True,
) -> dict:
    """Build (or resume) the inverted index for a transcripts DataFrame.

    Returns the final manifest. Artifacts under ``index_dir``:
      docmap/segment=K/         doc_id -> (conv_id, turn_idx, role, tool, ts,
                                field_len, norm_byte)   [doc_norms included]
      postings_local/segment=K/ per-segment posting blocks
      manifest.json             config + boundaries + per-segment lineage
    """
    config = config or IndexConfig()
    _check_config(config)
    manifest = load_manifest(index_dir) if resume else None

    if config.index_sort:
        if config.index_sort not in transcripts.columns:
            raise ValueError(
                f"index_sort column {config.index_sort!r} not in input")
        # a NULL (or float NaN) key would cast silently to INT64_MIN in the
        # pandas shard path (NaN/NaT -> int64) and corrupt docID/sort
        # congruence — the reference rejects missing sort values the same
        # way (Sorter.java requires a value per doc); fail loudly instead
        from pyspark.sql.types import DoubleType, FloatType

        if isinstance(transcripts.schema[config.index_sort].dataType,
                      (FloatType, DoubleType)):
            # _sort_key_col/_sort_key_np key on int64, so a float key would
            # order docIDs by floor(value) while search_sorted probes the
            # true float column — the ASC probe has no tie-run extension and
            # would silently return the wrong top-k for keys sharing a
            # floor. Reject loudly (the reference supports float sorts via
            # NumericUtils sortable bits; an INTEGER/TIMESTAMP key covers
            # the transcripts schema, so this is a documented restriction)
            raise ValueError(
                f"index_sort column {config.index_sort!r} is "
                "float/double; only integer or timestamp sort keys are "
                "supported (float keys would break docID/sort congruence)")
        bad = F.col(config.index_sort).isNull()
        if transcripts.filter(bad).limit(1).count() > 0:
            raise ValueError(
                f"index_sort column {config.index_sort!r} contains NULL/NaN; "
                "the sort key must be a value for every row")
        # the shard path compares session-local pandas datetimes while
        # boundaries use epoch micros — identical ordering only when the
        # session renders UTC (DST folds otherwise reorder)
        from pyspark.sql.types import TimestampType

        if isinstance(transcripts.schema[config.index_sort].dataType,
                      TimestampType):
            tz = spark.conf.get("spark.sql.session.timeZone", "")
            if tz not in ("UTC", "Etc/UTC", "GMT", "+00:00", "Z"):
                raise ValueError(
                    "index_sort on a TIMESTAMP column requires "
                    "spark.sql.session.timeZone=UTC (session tz "
                    f"{tz!r} can reorder across DST folds)")

    if manifest is None:
        nseg = config.num_segments
        if config.flush_ram_mb or config.flush_max_docs:
            nseg = _flush_policy_segments(transcripts, config)
        if config.index_sort:
            boundaries = _compute_sort_boundaries(transcripts,
                                                  config.index_sort, nseg)
        elif config.flush_ram_mb:
            boundaries = _compute_boundaries_bytes(transcripts, nseg)
        else:
            boundaries = _compute_boundaries(transcripts, nseg)
        manifest = {
            "version": 1,
            "generation": 0,
            "config": config.to_json(),
            "boundaries": boundaries,
            "shards": {},
            "completed": {},
            "merged": False,
        }
        write_manifest(index_dir, manifest)
    else:
        boundaries = manifest["boundaries"]
        config = IndexConfig(**manifest["config"])

    n_shards = len(boundaries) + 1
    assigned = (
        _assign_shards_sorted(transcripts, boundaries, config.index_sort)
        if config.index_sort
        else _assign_shards(transcripts, boundaries)
    )

    # shard -> row count (tiny collect; derives the dense docID offsets)
    counts_rows = assigned.groupBy("shard_id").count().collect()
    counts = {int(r["shard_id"]): int(r["count"]) for r in counts_rows}
    offsets: dict[int, int] = {}
    acc = 0
    for sid in range(n_shards):
        offsets[sid] = acc
        acc += counts.get(sid, 0)

    if manifest["shards"]:
        prev = {int(k): v for k, v in manifest["shards"].items()}
        if {k: v["count"] for k, v in prev.items()} != {
            k: counts.get(k, 0) for k in range(n_shards)
        }:
            raise ValueError(
                "input changed since last build (shard counts differ); "
                "pass resume=False to rebuild"
            )
    manifest["shards"] = {
        str(sid): {"offset": offsets[sid], "count": counts.get(sid, 0)}
        for sid in range(n_shards)
    }
    write_manifest(index_dir, manifest)

    done = {int(k) for k in manifest["completed"]}
    pending = [s for s in range(n_shards) if s not in done and counts.get(s, 0) > 0]
    if pending:
        part = assigned.filter(F.col("shard_id").isin(pending))
        meta = part.groupBy("shard_id").applyInPandas(
            _make_segment_builder(index_dir, offsets, config),
            schema=SEGMENT_META_SCHEMA,
        )
        rows = meta.collect()
        for r in rows:
            d = r.asDict()
            manifest["completed"][str(int(d["segment_id"]))] = {
                k: (int(v) if isinstance(v, (int, np.integer)) else v)
                for k, v in d.items()
                if k != "segment_id"
            }
        manifest["generation"] += 1
        write_manifest(index_dir, manifest)

    return manifest


def _compute_boundaries(transcripts: DataFrame, num_segments: int,
                        sample_target: int = 200) -> list[str]:
    """Split the sorted conv_id domain into num_segments contiguous ranges.

    Scale path: approx_count_distinct sizes the domain, then a DETERMINISTIC
    hash sample (xxhash64(conv_id) % rate == 0) of ~num_segments *
    sample_target conv_ids is collected and its quantiles become the
    boundaries — driver memory is bounded by the sample size, never
    O(distinct conv_ids). Small corpora (where the sample would be
    degenerate) use the exact distinct sort. Boundary placement only affects
    partition balance, never results; the manifest freezes whatever
    boundaries the first run chose, which is all resume needs.
    """
    approx = int(
        transcripts.select(
            F.approx_count_distinct("conv_id").alias("n")
        ).first()["n"]
    )
    rate = approx // max(num_segments * sample_target, 1)
    if rate <= 1:
        convs = [
            r[0]
            for r in transcripts.select("conv_id").distinct().orderBy("conv_id").collect()
        ]
    else:
        convs = [
            r[0]
            for r in transcripts.select("conv_id")
            .filter(F.pmod(F.xxhash64("conv_id"), F.lit(rate)) == 0)
            .distinct()
            .orderBy("conv_id")
            .collect()
        ]
    if not convs:
        return []
    n = min(num_segments, len(convs))
    bounds = []
    for i in range(1, n):
        bounds.append(convs[(len(convs) * i) // n])
    return sorted(set(bounds))


def _flush_policy_segments(transcripts: DataFrame, config: IndexConfig) -> int:
    """Derive the effective segment count from the flush policy
    (FlushByRamOrCountsPolicy semantics re-expressed as task granularity):
    enough shards that the ESTIMATED per-task buffered footprint
    (RAM_EXPANSION x raw text bytes / shard) stays under flush_ram_mb and
    the per-task row count under flush_max_docs. One cheap agg job;
    config.num_segments is the floor."""
    agg = transcripts.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.length("text")).alias("b")
    ).first()
    n_docs, n_bytes = int(agg["n"]), int(agg["b"] or 0)
    need = config.num_segments
    if config.flush_ram_mb:
        budget = config.flush_ram_mb << 20
        need = max(need, -(-n_bytes * RAM_EXPANSION // budget))
    if config.flush_max_docs:
        need = max(need, -(-n_docs // config.flush_max_docs))
    return int(need)


def _compute_boundaries_bytes(transcripts: DataFrame, num_segments: int,
                              sample_target: int = 200) -> list[str]:
    """Byte-weighted twin of _compute_boundaries: boundaries sit at equal
    CUMULATIVE-TEXT-BYTE quantiles of the sorted conv_id domain (from the
    same bounded deterministic hash sample), so a skewed corpus cannot
    concentrate most of a build's buffered bytes in one task. A conversation
    stays atomic (docIDs are (conv_id, turn_idx)-ordered within shards), so
    one conv larger than the budget still forms a single oversized shard —
    exactly Lucene's behavior for one giant document."""
    approx = int(
        transcripts.select(
            F.approx_count_distinct("conv_id").alias("n")
        ).first()["n"]
    )
    rate = approx // max(num_segments * sample_target, 1)
    src = transcripts.select("conv_id", F.length("text").alias("b"))
    if rate > 1:
        src = src.filter(F.pmod(F.xxhash64("conv_id"), F.lit(rate)) == 0)
    rows = (
        src.groupBy("conv_id").agg(F.sum("b").alias("b"))
        .orderBy("conv_id").collect()
    )
    if not rows:
        return []
    convs = [r["conv_id"] for r in rows]
    cum = np.cumsum([int(r["b"] or 0) for r in rows], dtype=np.int64)
    total = int(cum[-1])
    n = min(num_segments, len(convs))
    bounds = []
    for i in range(1, n):
        j = min(int(np.searchsorted(cum, total * i // n, side="right")),
                len(convs) - 1)
        bounds.append(convs[j])
    return sorted(set(bounds))


def _compute_sort_boundaries(transcripts: DataFrame, field: str,
                             num_segments: int,
                             sample_target: int = 200) -> list[int]:
    """index_sort twin of _compute_boundaries: quantile boundaries over the
    int64 SORT KEY (micros for timestamps), from a bounded deterministic
    hash sample — driver memory never exceeds the sample. Boundary placement
    only affects balance; the global doc order (sort key, conv_id, turn_idx)
    is fixed either way."""
    key = _sort_key_col(transcripts, field).alias("k")
    n = transcripts.count()
    rate = n // max(num_segments * sample_target, 1)
    src = transcripts.select(key, "conv_id")
    if rate > 1:
        src = src.filter(F.pmod(F.xxhash64("conv_id"), F.lit(rate)) == 0)
    keys = sorted(r["k"] for r in src.select("k").collect()
                  if r["k"] is not None)
    if not keys:
        return []
    nseg = min(num_segments, len(keys))
    bounds = []
    for i in range(1, nseg):
        bounds.append(int(keys[(len(keys) * i) // nseg]))
    return sorted(set(bounds))


def _assign_shards_sorted(transcripts: DataFrame, boundaries: list[int],
                          field: str) -> DataFrame:
    """Shard by the index_sort key: shard ranges ascend in the sort key, so
    with offsets in shard order, global docID order == sort-key order."""
    bnd = np.array(boundaries, dtype=np.int64)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def shard_of_key(k: pd.Series) -> pd.Series:
        if bnd.size == 0:
            return pd.Series(np.zeros(len(k), dtype=np.int32))
        idx = np.searchsorted(bnd, k.to_numpy(np.int64), side="right")
        return pd.Series(idx.astype(np.int32))

    cols = ["conv_id", "turn_idx", "role", "tool", "ts", "text"]
    return transcripts.select(*cols).withColumn(
        "shard_id", shard_of_key(_sort_key_col(transcripts, field))
    )


def _assign_shards(transcripts: DataFrame, boundaries: list[str]) -> DataFrame:
    """Add shard_id via vectorized searchsorted over the frozen boundaries."""
    bnd = np.array(boundaries, dtype=object)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def shard_of(conv: pd.Series) -> pd.Series:
        if bnd.size == 0:
            return pd.Series(np.zeros(len(conv), dtype=np.int32))
        idx = np.searchsorted(bnd, conv.to_numpy(dtype=object), side="right")
        return pd.Series(idx.astype(np.int32))

    cols = ["conv_id", "turn_idx", "role", "tool", "ts", "text"]
    return transcripts.select(*cols).withColumn("shard_id", shard_of(F.col("conv_id")))


def _make_segment_builder(index_dir: str, offsets: dict[int, int],
                          config: IndexConfig):
    """Returns the function building one segment per shard, called as
    ``build(key, pdf)`` with ``key[0]`` the segment id (an applyInPandas
    group function). Every segment build goes through it: both builds
    and the append.

    The analyzer SPEC (tokenizer fn + chain filters) is resolved on the
    DRIVER and shipped through the closure: executors re-import the
    analysis module fresh, so a runtime-registered chain
    (``analysis.register_chain``) would not resolve by name there."""
    from lucene_spark.functions.analysis import (
        get_chain_filters, get_raw_tokenizer,
    )

    spec = (get_raw_tokenizer(config.analyzer),
            get_chain_filters(config.analyzer))

    def build_segment(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        sid = int(key[0])
        return _build_segment_frame(
            pdf, sid, offsets[sid], config.analyzer, index_dir,
            config.positions, config.index_sort, spec, config.offsets,
            config.payloads)

    return build_segment


def _build_segment_frame(
    pdf: pd.DataFrame, sid: int, offset: int, analyzer: str, index_dir: str,
    positions: bool = False, index_sort: str | None = None,
    spec: tuple | None = None, store_offsets: bool = False,
    store_payloads: bool = False,
) -> pd.DataFrame:
    """Build one segment from an in-memory frame of transcript rows (the DWPT
    flush analog): tokenize, norms, docmap + block-encoded postings written
    executor-side; returns the 1-row segment-meta frame. ``spec`` is the
    driver-resolved analyzer spec ((tokenize, max_len), chain filters) for
    runtime-registered chains; None resolves by name."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lucene_spark.functions.analysis import get_raw_tokenizer
    from lucene_spark.functions.codec import encode_postings_batch
    from lucene_spark.functions.smallfloat import int_to_byte4_np

    t0 = time.time()

    if index_sort:
        # Sorter.java analog: docIDs within the segment follow the sort key
        # (shards already ascend in it), (conv_id, turn_idx) breaking ties
        pdf = pdf.assign(_sk=_sort_key_np(pdf[index_sort])).sort_values(
            ["_sk", "conv_id", "turn_idx"], kind="mergesort"
        ).drop(columns="_sk").reset_index(drop=True)
    else:
        pdf = pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)
    n = len(pdf)
    doc_ids = offset + np.arange(n, dtype=np.int64)

    # tokenize raw, then explode+factorize; the max-token-length filter is
    # applied on the UNIQUE terms (it only depends on the token string), so
    # the per-token work stays in C. field_len = surviving tokens per row,
    # via bincount — identical to the scalar analyze_one semantics.
    from lucene_spark.functions.analysis import STREAM_TOKENIZERS
    stream = STREAM_TOKENIZERS.get(analyzer)
    import pyarrow.compute as pc
    inc_flat = None
    if stream is not None:
        # stream-structural chain (ShingleFilter): the whole analyzer ran
        # per row and emitted final terms + position increments; positions
        # are the running posIncr sum (posIncr-0 stacked shingles share
        # their unigram's position), NOT raw ordinals
        tokens, incs = stream(pdf["text"])
        max_len = None
    else:
        tokenize, max_len = spec[0] if spec else get_raw_tokenizer(analyzer)
        tokens = tokenize(pdf["text"])
    # arrow-native flatten + dictionary-encode: list_flatten /
    # list_parent_indices / dictionary_encode are C++ over compact string
    # buffers — ~4x faster than pandas explode+factorize and far lighter on
    # the allocator (which is what limits many-core scaling)
    la = pa.array(tokens.tolist(), type=pa.list_(pa.string()))
    de = pc.dictionary_encode(pc.list_flatten(la))
    codes = de.indices.to_numpy().astype(np.int64)
    uniques = de.dictionary.to_pandas().to_numpy(dtype=object)
    row_of = pc.list_parent_indices(la).to_numpy().astype(np.int64)
    # raw token position per occurrence (explode is row-major, row_of sorted)
    counts_raw = np.bincount(row_of, minlength=n)
    row_start = np.concatenate(([0], np.cumsum(counts_raw)[:-1]))
    if stream is not None:
        inc_flat = pc.list_flatten(
            pa.array(incs.tolist(), type=pa.list_(pa.int64()))
        ).to_numpy().astype(np.int64)
        # per-row running posIncr sum - 1 (groupwise cumsum)
        c = np.cumsum(inc_flat)
        base = np.zeros(n, dtype=np.int64)
        nonempty = counts_raw > 0
        base[nonempty] = c[row_start[nonempty]] - inc_flat[row_start[nonempty]]
        pos_raw = c - base[row_of] - 1
    else:
        pos_raw = np.arange(row_of.size, dtype=np.int64) - row_start[row_of]
    off_s_flat = off_e_flat = None
    if store_offsets:
        # per-RAW-ordinal char spans, indexed flat as row_start[row] + pos —
        # pos_raw IS the raw ordinal and survives every vocab filter, so
        # offsets need no mask threading and synonym stacks inherit their
        # source spans (the reference gives stacked tokens the same offsets).
        # The span regex IS the chain's raw tokenizer, so spans are exact:
        #   standard base: TOKEN_RE(_ASCII) on raw text — ALL rows, the
        #     chain tokenizes raw-first (StandardTokenizer offset contract);
        #   simple base: [A-Za-z0-9]+ on ASCII rows only — the chain's
        #     contract is lower-FIRST, so non-ASCII rows (whose lowered
        #     spans differ from raw) degrade to no-offsets (-1) and the
        #     highlighter falls back to the regex extractor per doc.
        from lucene_spark.functions.analysis import (
            _SIMPLE_RAW_RE, CHAIN_BASE, TOKEN_RE, TOKEN_RE_ASCII,
        )

        standard = CHAIN_BASE.get(analyzer) == "standard"
        off_s_flat = np.full(row_of.size, -1, dtype=np.int64)
        off_e_flat = np.full(row_of.size, -1, dtype=np.int64)
        for ri, txt in enumerate(pdf["text"].fillna("").tolist()):
            if counts_raw[ri] == 0:
                continue
            is_ascii = txt.isascii()
            if standard:
                rx = TOKEN_RE_ASCII if is_ascii else TOKEN_RE
            elif is_ascii:
                rx = _SIMPLE_RAW_RE
            else:
                continue  # simple base, non-ASCII: degrade to no-offsets
            base = int(row_start[ri])
            for j, m in enumerate(rx.finditer(txt)):
                off_s_flat[base + j] = m.start()
                off_e_flat[base + j] = m.end()
    pay_flat = None
    if store_payloads:
        # per-RAW-ordinal payloads, same flat indexing as offsets: pos_raw
        # is the raw ordinal and survives every vocab filter. Must replay
        # the whitespace_payload tokenizer's drop rule exactly (empty-term
        # tokens don't consume an ordinal).
        from lucene_spark.functions.analysis import split_payload_token

        pay_flat = np.full(row_of.size, np.nan, dtype=np.float32)
        for ri, txt in enumerate(pdf["text"].fillna("").tolist()):
            if counts_raw[ri] == 0:
                continue
            base = int(row_start[ri])
            j = 0
            for tok in txt.split():
                term, payload = split_payload_token(tok)
                if not term:
                    continue
                pay_flat[base + j] = payload
                j += 1
    tf_flat = None
    if codes.size:
        # tf-override chains (DelimitedTermFrequencyTokenFilter): split the
        # raw 'term|tf' vocabulary into terms + per-occurrence frequencies
        # BEFORE lowercase (digits are case-invariant; the term part lowers
        # below like any chain). tf feeds freq AND field_len
        # (``core/index/IndexingChain.java:1276``).
        from lucene_spark.functions.analysis import TF_CHAINS
        _tfparse = TF_CHAINS.get(analyzer)
        if _tfparse is not None:
            parsed = [_tfparse(u) for u in uniques]
            tf_u = np.array([p[1] for p in parsed], dtype=np.int64)
            tf_flat = tf_u[codes]
            remap, uniques = pd.factorize(
                np.array([p[0] for p in parsed], dtype=object), sort=True
            )
            codes = remap[codes]
    if codes.size:
        # lowercase + length-filter on the vocabulary, not the corpus.
        # Java-parity translate first (İ/Σ — see analysis._JAVA_LOWER);
        # no-op for ASCII-only vocabularies (the `simple` chains)
        from lucene_spark.functions.analysis import CHAIN_LOWER, _JAVA_LOWER
        _custom_lower = CHAIN_LOWER.get(analyzer)
        if _custom_lower is not None:
            # per-chain lowercase (Turkish dotless-I, Irish hyphenation)
            lowered = pd.Series(uniques).map(_custom_lower)
        else:
            lowered = pd.Series(uniques).str.translate(_JAVA_LOWER).str.lower()
        remap, uniques = pd.factorize(lowered.to_numpy(dtype=object), sort=True)
        codes = remap[codes]
    if max_len is not None and codes.size:
        too_long = pd.Series(uniques).str.len().to_numpy(np.int64) > max_len
        if too_long.any():
            # dropped tokens keep incrementing positions (skip semantics)
            keep = ~too_long[codes]
            codes = codes[keep]
            row_of = row_of[keep]
            pos_raw = pos_raw[keep]
            if tf_flat is not None:
                tf_flat = tf_flat[keep]
    # chain filters (stop / stem), applied at the VOCABULARY level like the
    # lowercase+length steps above: stop-ness and the stem depend only on the
    # token string. Dropped stopwords keep incrementing positions and do NOT
    # count toward field_len (StopFilter + FieldInvertState semantics);
    # stemming merges vocabulary entries, so per-(term, doc) groups downstream
    # fold the merged occurrences' freqs and positions automatically.
    from lucene_spark.functions.analysis import get_chain_filters
    stop_set, vocab_xform, synonyms = (
        spec[1] if spec else get_chain_filters(analyzer)
    )
    if stop_set is not None and codes.size:
        is_stop = np.array([u in stop_set for u in uniques], dtype=bool)
        if is_stop.any():
            keep = ~is_stop[codes]
            codes = codes[keep]
            row_of = row_of[keep]
            pos_raw = pos_raw[keep]
            if tf_flat is not None:
                tf_flat = tf_flat[keep]
    if vocab_xform is not None and codes.size:
        xformed = np.array([vocab_xform(u) for u in uniques], dtype=object)
        remap, uniques = pd.factorize(xformed, sort=True)
        codes = remap[codes]
    # field_len BEFORE synonym expansion: stacked tokens are posIncr-0
    # overlaps that the norm discounts (FieldInvertState numOverlap +
    # BM25Similarity discountOverlaps — SynonymGraphFilter semantics).
    # Stream chains carry explicit increments: count posIncr>0 emissions.
    if inc_flat is not None:
        flen = np.bincount(
            row_of, weights=(inc_flat > 0), minlength=n
        ).astype(np.int64)
    elif tf_flat is not None:
        # invertState.length accumulates the custom term frequency
        # (IndexingChain.java:1276)
        flen = np.bincount(row_of, weights=tf_flat, minlength=n).astype(np.int64)
    else:
        flen = np.bincount(row_of, minlength=n).astype(np.int64)
    norm_bytes = int_to_byte4_np(flen).astype(np.int64)
    if synonyms and codes.size and getattr(synonyms, "replaces", False):
        # REPLACE+stack producer (BeiderMorseFilter semantics): per unique
        # term the first emission REPLACES the token at its position, the
        # rest stack at posIncr 0, and no-emission terms pass through.
        # flen (computed above) is untouched: one posIncr>0 token per
        # source either way.
        assert tf_flat is None, (
            "synonym expansion is unsupported on tf-override chains"
        )
        parts_per_u = [synonyms.get(u, ()) for u in uniques]
        # stacked pairs keyed on the ORIGINAL unique index (two originals
        # may share a first code but carry different stacks)
        pairs = [
            (i, s) for i, p in enumerate(parts_per_u) for s in p[1:]
        ]
        add_r, add_p = [], []
        for orig_i, _ in pairs:
            m = codes == orig_i
            add_r.append(row_of[m])
            add_p.append(pos_raw[m])
        xformed = np.array(
            [p[0] if p else u for u, p in zip(uniques, parts_per_u)],
            dtype=object)
        all_terms = np.concatenate([
            xformed, np.array([s for _, s in pairs], dtype=object)
        ]) if pairs else xformed
        remap, uniques = pd.factorize(all_terms, sort=True)
        codes = remap[: len(xformed)][codes]
        if pairs:
            syn_codes = remap[len(xformed):]
            add_c = [
                np.full(len(r), syn_codes[k], dtype=codes.dtype)
                for k, r in enumerate(add_r)
            ]
            codes = np.concatenate([codes] + add_c)
            row_of = np.concatenate([row_of] + add_r)
            pos_raw = np.concatenate([pos_raw] + add_p)
            o = np.lexsort((pos_raw, codes.astype(np.int64) * n + row_of))
            codes, row_of, pos_raw = codes[o], row_of[o], pos_raw[o]
    elif synonyms and codes.size:
        assert tf_flat is None, (
            "synonym expansion is unsupported on tf-override chains"
        )
        pairs = [
            (i, s) for i, u in enumerate(uniques)
            for s in synonyms.get(u, ())
        ]
        if pairs:
            all_terms = np.concatenate([
                uniques, np.array([s for _, s in pairs], dtype=object)
            ])
            remap, uniques = pd.factorize(all_terms, sort=True)
            codes = remap[: len(all_terms) - len(pairs)][codes]
            add_c, add_r, add_p = [], [], []
            for (orig_i, _), syn_code in zip(
                pairs, remap[len(all_terms) - len(pairs):]
            ):
                m = codes == remap[orig_i]
                add_c.append(np.full(int(m.sum()), syn_code, dtype=codes.dtype))
                add_r.append(row_of[m])
                add_p.append(pos_raw[m])
            codes = np.concatenate([codes] + add_c)
            row_of = np.concatenate([row_of] + add_r)
            pos_raw = np.concatenate([pos_raw] + add_p)
            # restore position order within every (term, doc) group: stacked
            # occurrences appended above interleave with organic ones, and
            # the downstream stable key-sort preserves input order
            o = np.lexsort((pos_raw, codes.astype(np.int64) * n + row_of))
            codes, row_of, pos_raw = codes[o], row_of[o], pos_raw[o]

    # ---- docmap (+ norms)
    seg_dir = os.path.join(index_dir, "docmap", f"segment={sid}")
    os.makedirs(seg_dir, exist_ok=True)
    docmap = pa.table(
        {
            "doc_id": doc_ids,
            "conv_id": pdf["conv_id"].to_numpy(dtype=object),
            "turn_idx": pdf["turn_idx"].to_numpy(dtype=np.int32),
            "role": pdf["role"].to_numpy(dtype=object),
            "tool": pdf["tool"].to_numpy(dtype=object),
            # Spark cannot read TIMESTAMP(NANOS) parquet; store micros
            "ts": pa.array(pdf["ts"]).cast(pa.timestamp("us")),
            "field_len": flen.astype(np.int32),
            "norm_byte": norm_bytes.astype(np.int32),
        }
    )
    pq.write_table(docmap, os.path.join(seg_dir, "data.parquet"))

    # ---- in-memory postings, int-keyed end to end (TermsHashPerField analog:
    # the reference also hashes term bytes to ints and defers string work;
    # object-dtype pandas groupbys thrash the allocator under many
    # concurrent workers, so strings appear exactly twice: factorize above +
    # the final term column). One int64 key sort -> batch block encode.
    num_postings = 0
    if codes.size:
        key = codes.astype(np.int64) * n + row_of
        # stable argsort instead of np.unique: same grouped keys, but the
        # within-group order preserves explode order == token position order,
        # which yields per-(term, doc) position lists for free
        order = np.argsort(key, kind="stable")
        sk = key[order]
        gst = np.flatnonzero(np.concatenate(([True], sk[1:] != sk[:-1])))
        ukey = sk[gst]
        if tf_flat is not None:
            # per-(term, doc) freq = SUM of the occurrences' custom tfs
            # (FreqProxTermsWriterPerField adds getTermFrequency per token)
            freqs = np.add.reduceat(tf_flat[order], gst).astype(np.int64)
        else:
            freqs = np.diff(np.concatenate((gst, [sk.size]))).astype(np.int64)
        code_u = ukey // n
        row_u = ukey % n
        docs = row_u + offset
        norm_of_doc = norm_bytes[row_u]
        starts = np.flatnonzero(np.concatenate(([True], code_u[1:] != code_u[:-1])))
        ends = np.concatenate((starts[1:], [code_u.size]))
        num_postings = int(ukey.size)
        batch = encode_postings_batch(docs, freqs, norm_of_doc, starts, ends)
        term_of_block = uniques[code_u[starts]][batch["term_idx"]]

        if positions:
            # position = raw token ordinal in the doc (skipped over-long
            # tokens still increment it, StandardTokenizer.java:152-175)
            pos_of = (pos_raw[order]).astype(np.int32)
            plist = pa.ListArray.from_arrays(
                np.concatenate((gst, [sk.size])).astype(np.int32),
                pa.array(pos_of, type=pa.int32()),
            )
            pos_dir = os.path.join(index_dir, "positions_local", f"segment={sid}")
            os.makedirs(pos_dir, exist_ok=True)
            pos_cols = {
                "term": pa.array(uniques[code_u], type=pa.string()),
                "doc_id": pa.array(docs, type=pa.int64()),
                "positions": plist,
            }
            if store_offsets:
                occ = row_start[row_of[order]] + pos_raw[order]
                bounds = np.concatenate((gst, [sk.size])).astype(np.int32)
                pos_cols["starts"] = pa.ListArray.from_arrays(
                    bounds, pa.array(off_s_flat[occ].astype(np.int32)))
                pos_cols["ends"] = pa.ListArray.from_arrays(
                    bounds, pa.array(off_e_flat[occ].astype(np.int32)))
            if store_payloads:
                occ = row_start[row_of[order]] + pos_raw[order]
                bounds = np.concatenate((gst, [sk.size])).astype(np.int32)
                pos_cols["payloads"] = pa.ListArray.from_arrays(
                    bounds, pa.array(pay_flat[occ], type=pa.float32()))
            pq.write_table(
                pa.table(pos_cols),
                os.path.join(pos_dir, "data.parquet"),
            )
    else:
        starts = np.zeros(0, dtype=np.int64)
        batch = {k: [] for k in (
            "term_idx", "block_id", "first_doc", "last_doc", "num_docs",
            "ttf", "data", "impact_freqs", "impact_norms")}
        term_of_block = np.zeros(0, dtype=object)

    rows: dict[str, list] = {
        "term": term_of_block,
        "segment_id": np.full(len(batch["block_id"]), sid, dtype=np.int32),
        "block_id": batch["block_id"],
        "first_doc": batch["first_doc"],
        "last_doc": batch["last_doc"],
        "num_docs": batch["num_docs"],
        "ttf": batch["ttf"],
        "data": batch["data"],
        "impact_freqs": batch["impact_freqs"],
        "impact_norms": batch["impact_norms"],
    }

    post_dir = os.path.join(index_dir, "postings_local", f"segment={sid}")
    os.makedirs(post_dir, exist_ok=True)
    ptable = pa.table(
        {
            "term": pa.array(rows["term"], type=pa.string()),
            "segment_id": pa.array(rows["segment_id"], type=pa.int32()),
            "block_id": pa.array(rows["block_id"], type=pa.int32()),
            "first_doc": pa.array(rows["first_doc"], type=pa.int64()),
            "last_doc": pa.array(rows["last_doc"], type=pa.int64()),
            "num_docs": pa.array(rows["num_docs"], type=pa.int32()),
            "ttf": pa.array(rows["ttf"], type=pa.int64()),
            "data": pa.array(rows["data"], type=pa.binary()),
            "impact_freqs": pa.array(rows["impact_freqs"], type=pa.list_(pa.int32())),
            "impact_norms": pa.array(rows["impact_norms"], type=pa.list_(pa.int32())),
        }
    )
    pq.write_table(ptable, os.path.join(post_dir, "data.parquet"))

    checksum = (
        int(pd.util.hash_pandas_object(pdf[["conv_id", "turn_idx"]], index=False).sum())
        & 0x7FFFFFFFFFFFFFFF
    )
    meta = pd.DataFrame(
        [
            {
                "segment_id": sid,
                "doc_lo": int(offset),
                "num_docs": int(n),
                "sum_field_len": int(flen.sum()),
                "num_terms": int(starts.size),
                "num_postings": int(num_postings),
                "num_blocks": int(len(rows["term"])),
                "postings_bytes": int(sum(len(b) for b in rows["data"])),
                "input_rows": int(n),
                "conv_lo": str(pdf["conv_id"].iloc[0]),
                "conv_hi": str(pdf["conv_id"].iloc[-1]),
                "checksum": checksum,
                "wall_s": float(time.time() - t0),
            }
        ]
    )
    return meta


# ------------------------------------------------------------ file-aligned build

def plan_input_files(input_dir: str) -> list[dict]:
    """Metadata-only scan plan: one entry per parquet data file with
    (path, rows, conv_lo, conv_hi) from the footer — the Iceberg-manifest
    analog (at 10^12 turns this list comes from the table's manifest files,
    never from opening data files).

    Returns entries sorted by conv_lo. Raises if footer statistics are
    missing (caller falls back to the shuffle path)."""
    import pyarrow.parquet as pq

    plan = []
    names = sorted(
        f for f in os.listdir(input_dir)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    for name in names:
        path = os.path.join(input_dir, name)
        md = pq.ParquetFile(path).metadata
        if md.num_rows == 0:
            continue
        conv_idx = md.schema.to_arrow_schema().get_field_index("conv_id")
        los, his = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(conv_idx).statistics
            if st is None or not st.has_min_max:
                raise ValueError(f"{path}: no conv_id min/max statistics")
            los.append(st.min)
            his.append(st.max)
        plan.append(
            {"path": path, "rows": md.num_rows,
             "conv_lo": min(los), "conv_hi": max(his)}
        )
    plan.sort(key=lambda e: (e["conv_lo"], e["conv_hi"], e["path"]))
    return plan


def files_are_aligned(plan: list[dict]) -> bool:
    """True iff file conv-ranges are strictly disjoint (no conversation spans
    two files), so file order == global (conv_id, turn_idx) order."""
    for a, b in zip(plan, plan[1:]):
        if not a["conv_hi"] < b["conv_lo"]:
            return False
    return True


def build_index_files(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    config: IndexConfig | None = None,
    resume: bool = True,
) -> dict:
    """No-shuffle index build: one task per input parquet file = one segment
    (the DWPT analog, ``DocumentsWriterPerThread.java:52`` — thread-private,
    no cross-task sync). Raw text is never shuffled; docID offsets come from
    footer row counts alone.

    This is the scale path: at 10^12 turns the shuffle-based ``build_index``
    moves the whole corpus across the network before tokenizing, while this
    path reads each split exactly once and writes only index artifacts. It
    requires the input files to be range-partitioned by conv_id (true for any
    Iceberg table sorted/partitioned on conv_id); falls back via ValueError
    when footer stats show overlapping ranges.

    ``config.num_segments`` is ignored — the file layout decides.
    """
    config = config or IndexConfig()
    if config.index_sort:
        raise ValueError(
            "index_sort needs the shuffle build (build_index): the "
            "file-aligned path takes doc order from the input files"
        )
    _check_config(config)
    manifest = load_manifest(index_dir) if resume else None

    if manifest is None:
        plan = plan_input_files(input_dir)
        if not files_are_aligned(plan):
            raise ValueError(
                f"{input_dir}: file conv_id ranges overlap; use build_index()"
            )
        acc = 0
        for sid, e in enumerate(plan):
            e["segment_id"] = sid
            e["offset"] = acc
            acc += e["rows"]
        manifest = {
            "version": 1,
            "generation": 0,
            "mode": "files",
            "config": config.to_json(),
            "input_dir": input_dir,
            "plan": plan,
            "boundaries": [e["conv_lo"] for e in plan[1:]],
            "shards": {
                str(e["segment_id"]): {"offset": e["offset"], "count": e["rows"]}
                for e in plan
            },
            "completed": {},
            "merged": False,
        }
        write_manifest(index_dir, manifest)
    else:
        config = IndexConfig(**manifest["config"])
        plan = manifest["plan"]

    done = {int(k) for k in manifest["completed"]}
    pending = [e for e in plan if e["segment_id"] not in done]
    if pending:
        build = _make_segment_builder(
            index_dir, {e["segment_id"]: e["offset"] for e in pending}, config)
        pending_pdf = pd.DataFrame(
            [(e["path"], e["segment_id"]) for e in pending],
            columns=["path", "segment_id"],
        )
        # round-robin: exactly one file per task (hash-by-key could collide)
        tasks = spark.createDataFrame(pending_pdf).repartition(len(pending))

        def run_file(batches):
            import pyarrow as pa2
            import pyarrow.parquet as pq2

            # each worker is one of N concurrent processes on this host; a
            # per-worker arrow thread pool (default = all cores) would run
            # N*cores threads and thrash — the task itself IS the parallelism
            pa2.set_cpu_count(1)
            for pdf in batches:
                for path, sid in pdf.itertuples(index=False):
                    frame = pq2.read_table(
                        path,
                        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
                        use_threads=False,
                    ).to_pandas(use_threads=False)
                    yield build((sid,), frame)

        rows = tasks.mapInPandas(run_file, schema=SEGMENT_META_SCHEMA).collect()
        for r in rows:
            d = r.asDict()
            manifest["completed"][str(int(d["segment_id"]))] = {
                k: (int(v) if isinstance(v, (int, np.integer)) else v)
                for k, v in d.items()
                if k != "segment_id"
            }
        manifest["generation"] += 1
        write_manifest(index_dir, manifest)
    return manifest


# ------------------------------------------------------------------ readers

def collection_stats(manifest: dict) -> tuple[int, int]:
    """(doc_count, sum_total_term_freq) — summed over all segments, the
    CollectionStatistics analog (IndexSearcher.java:1134-1149)."""
    doc_count = sum(int(v["num_docs"]) for v in manifest["completed"].values())
    sum_ttf = sum(int(v["sum_field_len"]) for v in manifest["completed"].values())
    return doc_count, sum_ttf


#: row schema of ``postings_local/`` and ``postings/`` (without their
#: partition column); reading with it skips Spark's schema-inference job
POSTINGS_SCHEMA = (
    "term string, segment_id int, block_id int, first_doc long, last_doc long, "
    "num_docs int, ttf long, data binary, "
    "impact_freqs array<int>, impact_norms array<int>"
)


def read_postings_local(spark: SparkSession, index_dir: str) -> DataFrame:
    # drop the hive-partition column derived from segment=K dirs
    # (segment_id is stored explicitly in the rows)
    return (spark.read.schema(POSTINGS_SCHEMA)
            .parquet(os.path.join(index_dir, "postings_local")).drop("segment"))


def read_docmap(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(index_dir, "docmap"))

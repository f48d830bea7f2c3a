"""Driver-local execution of small term and flat-Boolean queries.

A term or flat Boolean whose terms hold few postings (``term_dict``
``doc_freq`` summed, ``IndexSearcher.LOCAL_POSTINGS_MAX``) is cheaper to
run on the driver than as any Spark job: at local[4] one job costs
~0.1-0.2 s of fixed overhead, more than reading, decoding and scoring a
quarter-million postings in numpy. This module holds that route's pieces:

  - ``read_blocks``: one pyarrow read of the terms' committed posting
    blocks (hive-partition pruning on ``term_bucket``, row-group pruning on
    the sorted ``term`` column).
  - ``decode_terms``: ``codec.decode_blocks_batch`` over those blocks,
    split per term.
  - ``combine_scored`` / ``combine_clauses``: score every clause and
    combine the clauses per doc with the reference's scorer-tree float
    boundaries. ``search_colocated``'s per-partition leaf runs the same
    kernel on executors.
  - ``top_k`` and ``hits_frame``: (score desc, doc_id asc) top-k and a
    DataFrame over a local Arrow table, whose ``collect()`` runs no job.

Results are bit-identical to the Spark route: the same codec, the same
similarity arithmetic and the same combine rule as ``_combine_req_opt``.
"""

from __future__ import annotations

import os

import numpy as np

#: clause kind -> code in the kernel's ``kinds`` array
KIND_CODES = {"must": 0, "should": 1, "filter": 2, "must_not": 3}


def read_blocks(index_dir: str, terms: list[str], buckets: int,
                max_segment_id: int):
    """``pa.Table(term, num_docs, first_doc, data)``: every committed
    posting block of ``terms``, read on the driver. The filter prunes
    ``term_bucket`` partitions, then row groups by the terms' [min, max]
    span, and keeps segments up to ``max_segment_id`` so a staged,
    uncommitted segment stays invisible. The directory is listed on every
    call and ``_``/``.``-prefixed files are skipped, as Spark skips them."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    from lucene_spark.index.merge import term_bucket_of

    uniq = sorted(set(terms))
    schema = pa.schema([("term", pa.string()), ("segment_id", pa.int32()),
                        ("num_docs", pa.int32()), ("first_doc", pa.int64()),
                        ("data", pa.binary()), ("term_bucket", pa.int32())])
    if not uniq:
        return schema.empty_table().select(
            ["term", "num_docs", "first_doc", "data"])
    part = ds.partitioning(pa.schema([schema.field("term_bucket")]),
                           flavor="hive")
    term = ds.field("term")
    cond = (
        ds.field("term_bucket").isin(
            sorted({term_bucket_of(t, buckets) for t in uniq}))
        & (term >= uniq[0]) & (term <= uniq[-1]) & term.isin(uniq)
        & (ds.field("segment_id") <= max_segment_id))
    return ds.dataset(os.path.join(index_dir, "postings"), schema=schema,
                      format="parquet", partitioning=part).to_table(
        columns=["term", "num_docs", "first_doc", "data"], filter=cond)


def decode_terms(terms, num_docs, first_docs, datas
                 ) -> dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """Decode posting blocks in one ``decode_blocks_batch`` pass -> term ->
    (doc_ids, freqs, norm_bytes), each term's blocks concatenated."""
    from lucene_spark.functions.codec import decode_blocks_batch

    terms = np.asarray(terms, dtype=object)
    if terms.size == 0:
        return {}
    order = np.argsort(terms, kind="stable")
    terms = terms[order]
    nd = np.asarray(num_docs, dtype=np.int64)[order]
    docs, freqs, norms = decode_blocks_batch(
        [datas[i] for i in order.tolist()], nd,
        np.asarray(first_docs, dtype=np.int64)[order])
    starts = np.flatnonzero(np.r_[True, terms[1:] != terms[:-1]])
    bounds = np.r_[0, np.cumsum(nd)][np.r_[starts, terms.size]].tolist()
    return {terms[s]: (docs[lo:hi], freqs[lo:hi], norms[lo:hi])
            for s, lo, hi in zip(starts.tolist(), bounds, bounds[1:])}


def combine_clauses(docs: np.ndarray, kinds: np.ndarray, scores: np.ndarray,
                    n_must: int, n_should: int, n_filter: int, msm: int
                    ) -> tuple[np.ndarray, np.ndarray]:
    """Per-doc flat-Boolean combination in numpy: (doc_id, clause kind code,
    float32 clause score) rows in, the matching docs (ascending) and their
    float32 scores out.

    A doc matches when it has every must and filter clause, no must_not
    clause, and at least ``msm`` should clauses (at least one when the
    query has neither must nor filter clauses). Scores follow
    ``_combine_req_opt``'s float boundaries: double sums per side, cast to
    float32 where the reference's scorer tree casts; a query with no
    scoring clause (filter and must_not only) scores 0.0f."""
    uniq, inv = np.unique(docs, return_inverse=True)
    nu = uniq.size

    def side(code: int, weighted: bool) -> np.ndarray:
        sel = kinds == code
        if not weighted:
            return np.bincount(inv[sel], minlength=nu)
        return np.bincount(inv[sel], weights=scores[sel].astype(np.float64),
                           minlength=nu)

    ok = ((side(0, False) == n_must) & (side(2, False) == n_filter)
          & (side(3, False) == 0))
    if n_must + n_filter == 0:
        ok &= side(1, False) >= max(msm, 1)
    elif msm > 0:
        ok &= side(1, False) >= msm
    if n_must + n_should == 0:
        sc = np.zeros(nu, dtype=np.float32)
    elif n_should == 0:
        sc = side(0, True).astype(np.float32)
    elif n_must == 0:
        sc = side(1, True).astype(np.float32)
    elif msm > 0:
        sc = (side(0, True) + side(1, True).astype(np.float32)
              .astype(np.float64)).astype(np.float32)
    else:
        sc = (side(0, True).astype(np.float32).astype(np.float64)
              + side(1, True).astype(np.float32).astype(np.float64)
              ).astype(np.float32)
    return uniq[ok], sc[ok]


def combine_scored(postings: dict, clauses, sim, msm: int
                   ) -> tuple[np.ndarray, np.ndarray]:
    """Score each clause (``.kind``, ``.term``, ``.weight``) over its term's
    decoded ``postings`` (``decode_terms``) with ``sim.score`` and combine
    them per doc (``combine_clauses``). Absent terms contribute no rows."""
    n = {kind: sum(1 for c in clauses if c.kind == kind) for kind in KIND_CODES}
    docs_l, kinds_l, scores_l = [], [], []
    for c in clauses:
        if c.term not in postings:
            continue
        d, f, nb = postings[c.term]
        docs_l.append(d)
        kinds_l.append(np.full(d.size, KIND_CODES[c.kind], dtype=np.int8))
        scores_l.append(sim.score(f, nb, c.weight))
    if not docs_l:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float32)
    return combine_clauses(
        np.concatenate(docs_l), np.concatenate(kinds_l),
        np.concatenate(scores_l), n["must"], n["should"], n["filter"], msm)


def top_k(docs: np.ndarray, scores: np.ndarray, k: int
          ) -> tuple[np.ndarray, np.ndarray]:
    """The first ``k`` hits in (score desc, doc_id asc) order — the
    reference's HitQueue tie-break."""
    top = np.lexsort((docs, -scores.astype(np.float64)))[:k]
    return docs[top], scores[top]


def hits_frame(spark, docs: np.ndarray, scores: np.ndarray,
               query: list[str] | None = None):
    """DataFrame([query string,] doc_id long, score float) over a local
    Arrow table: a LocalRelation, so ``collect()`` runs no Spark job (an
    empty ``createDataFrame([], schema)`` runs one). Each column is one
    contiguous array, so the table is a single record batch: Spark drops
    every batch after an empty one."""
    import pyarrow as pa

    cols = {"doc_id": pa.array(docs, type=pa.int64()),
            "score": pa.array(scores, type=pa.float32())}
    if query is not None:
        cols = {"query": pa.array(query, type=pa.string()), **cols}
    return spark.createDataFrame(pa.table(cols))


def empty_hits(spark):
    """Zero-job empty DataFrame(doc_id long, score float)."""
    return hits_frame(spark, np.zeros(0, dtype=np.int64),
                      np.zeros(0, dtype=np.float32))

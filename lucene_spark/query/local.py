"""Driver-local execution of small term and flat-Boolean queries, and
the Boolean combine kernel every route shares.

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
  - ``clause_rows`` / ``combine_clauses``: score every clause, then
    combine the clauses per doc with the reference's scorer-tree float
    boundaries. ``clause_masks`` is the per-doc membership rule both the
    combine and ``profile_counts`` apply. This kernel is the engine's only
    copy of the Boolean combine rule: the Spark route runs it on executors
    too, once per doc-hash partition (``IndexSearcher._by_doc``) for every
    Boolean level, nested ones included (a non-term child's rows carry its
    clause id); ``search_colocated``'s per-doc-range leaf and ``explain``
    run it as well.
  - ``top_k`` and ``hits_frame``: (score desc, doc_id asc) top-k and a
    DataFrame over a local Arrow table, whose ``collect()`` runs no job.

Results are bit-identical to the Spark route: the same codec, the same
similarity arithmetic and the same combine kernel.
"""

from __future__ import annotations

import os

import numpy as np

#: clause kind -> code in the kernel's ``kinds`` array
KIND_CODES = {"must": 0, "should": 1, "filter": 2, "must_not": 3}


def read_blocks(index_dir: str, terms: list[str], buckets: int,
                max_segment_id: int, doc_id: int | None = None):
    """``pa.Table(term, num_docs, first_doc, data)``: every committed
    posting block of ``terms`` (with ``doc_id``, only the blocks whose doc
    range holds it), read on the driver. The filter prunes
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
                        ("last_doc", pa.int64()), ("data", pa.binary()),
                        ("term_bucket", pa.int32())])
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
    if doc_id is not None:
        cond = (cond & (ds.field("first_doc") <= doc_id)
                & (ds.field("last_doc") >= doc_id))
    return ds.dataset(os.path.join(index_dir, "postings"), schema=schema,
                      format="parquet", partitioning=part).to_table(
        columns=["term", "num_docs", "first_doc", "data"], filter=cond)


def decode_terms(blocks
                 ) -> dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """Decode a (pandas or Arrow) table of posting blocks in one
    ``decode_blocks_batch`` pass -> term -> (doc_ids, freqs, norm_bytes),
    each term's blocks concatenated."""
    from lucene_spark.functions.codec import decode_blocks_batch

    terms = np.asarray(blocks["term"], dtype=object)
    if terms.size == 0:
        return {}
    order = np.argsort(terms, kind="stable")
    terms = terms[order]
    nd = np.asarray(blocks["num_docs"], dtype=np.int64)[order]
    docs, freqs, norms = decode_blocks_batch(
        np.asarray(blocks["data"], dtype=object)[order], nd,
        np.asarray(blocks["first_doc"], dtype=np.int64)[order])
    starts = np.flatnonzero(np.r_[True, terms[1:] != terms[:-1]])
    bounds = np.r_[0, np.cumsum(nd)][np.r_[starts, terms.size]].tolist()
    return {terms[s]: (docs[lo:hi], freqs[lo:hi], norms[lo:hi])
            for s, lo, hi in zip(starts.tolist(), bounds, bounds[1:])}


def kind_codes(clauses) -> np.ndarray:
    """Kind code (``KIND_CODES``) of each clause, indexed by clause id:
    a Boolean's clause ids number its children 0..n-1 in order."""
    return np.array([KIND_CODES[c.kind] for c in clauses], dtype=np.int8)


def clause_rows(postings: dict, clauses, sim
                ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(clause_id, doc_id, float32 score) rows: each clause (``.clause_id``,
    ``.term``, ``.weight``) scored with ``sim.score`` over its term's
    decoded ``postings`` (``decode_terms``). Absent terms contribute no
    rows."""
    parts = []
    for c in clauses:
        if c.term in postings:
            d, f, nb = postings[c.term]
            parts.append((np.full(d.size, c.clause_id, dtype=np.int32), d,
                          sim.score(f, nb, c.weight)))
    if not parts:
        return (np.zeros(0, dtype=np.int32), np.zeros(0, dtype=np.int64),
                np.zeros(0, dtype=np.float32))
    cids, docs, scores = map(np.concatenate, zip(*parts))
    return cids, docs, scores


def clause_masks(cids: np.ndarray, docs: np.ndarray, codes: np.ndarray,
                 msm: int):
    """The Boolean membership rule, per doc, over (clause_id, doc_id)
    rows; ``codes`` holds the clauses' kind codes (``kind_codes``).

    Returns (docs ascending, each row's doc ordinal, required, passed,
    excluded): ``required`` — every must and filter clause matched;
    ``passed`` — required, and at least ``msm`` should clauses matched (at
    least one when the query has neither must nor filter clauses);
    ``excluded`` — some must_not clause matched. A doc matches when it
    passed and is not excluded."""
    uniq, inv = np.unique(docs, return_inverse=True)
    kinds = codes[cids]

    def n(code: int) -> np.ndarray:
        return np.bincount(inv[kinds == code], minlength=uniq.size)

    n_must, n_filter = int((codes == 0).sum()), int((codes == 2).sum())
    req = (n(0) == n_must) & (n(2) == n_filter)
    if n_must + n_filter == 0:
        passed = req & (n(1) >= max(msm, 1))
    elif msm > 0:
        passed = req & (n(1) >= msm)
    else:
        passed = req
    return uniq, inv, req, passed, n(3) > 0


def combine_clauses(cids: np.ndarray, docs: np.ndarray, scores: np.ndarray,
                    codes: np.ndarray, msm: int
                    ) -> tuple[np.ndarray, np.ndarray]:
    """Per-doc Boolean combination in numpy: (clause_id, doc_id,
    float32 clause score) rows in, the matching docs (ascending,
    ``clause_masks``) and their float32 scores out.

    Scores follow the reference's scorer-tree float boundaries: double sums
    per side, cast to float32 where it casts. Required-only or
    optional-only (``ConjunctionScorer.java:57-63``,
    ``DisjunctionSumScorer.java:40-46``): the side's sum, cast. Required +
    optional at msm 0 (``ReqOptSumScorer.java:242-258``): the float32
    addition of the two cast sums. At msm > 0 the SHOULD group is a
    required sub-scorer whose cast sum joins the MUST double sum
    (``BooleanScorerSupplier.java:546-553``). A query with no scoring
    clause (filter and must_not only) scores 0.0f."""
    uniq, inv, _, passed, excluded = clause_masks(cids, docs, codes, msm)
    kinds = codes[cids]
    n_must, n_should = int((codes == 0).sum()), int((codes == 1).sum())

    def side(code: int) -> np.ndarray:
        sel = kinds == code
        return np.bincount(inv[sel], weights=scores[sel].astype(np.float64),
                           minlength=uniq.size)

    if n_must + n_should == 0:
        sc = np.zeros(uniq.size, dtype=np.float32)
    elif n_should == 0:
        sc = side(0).astype(np.float32)
    elif n_must == 0:
        sc = side(1).astype(np.float32)
    elif msm > 0:
        sc = (side(0) + side(1).astype(np.float32)
              .astype(np.float64)).astype(np.float32)
    else:
        sc = (side(0).astype(np.float32).astype(np.float64)
              + side(1).astype(np.float32).astype(np.float64)
              ).astype(np.float32)
    ok = passed & ~excluded
    return uniq[ok], sc[ok]


def profile_counts(cids: np.ndarray, docs: np.ndarray, codes: np.ndarray,
                   msm: int) -> list[int]:
    """``profile()``'s operator counts over (clause_id, doc_id) rows:
    candidates (the docs any clause touched), then those ``clause_masks``
    marks required (must_pass), passed (msm_pass), passed but excluded
    (excluded), and passed and not excluded (matched)."""
    uniq, _, req, passed, excluded = clause_masks(cids, docs, codes, msm)
    return [int(uniq.size), int(req.sum()), int(passed.sum()),
            int((passed & excluded).sum()), int((passed & ~excluded).sum())]


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

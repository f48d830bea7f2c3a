"""FastVectorHighlighter over search hits — the Spark side.

The reference highlights from per-document TERM VECTORS
(``FastVectorHighlighter.java:110-160`` reads ``reader.termVectors()``);
this engine's equivalent random-access store is the positions artifact
with stored char offsets (``IndexConfig.offsets=True`` — the same
(term, doc) -> [(position, start, end)] data keyed by term instead of
doc). The plan:

1. the positions scan prunes to (query terms × top-k docs) — term_bucket
   IN (...) AND term IN (...) pushed to parquet, the k-doc frame
   broadcast;
2. one groupBy(doc_id) gathers each hit's occurrence arrays;
3. the per-document FVH pipeline (``functions/fvh.py`` — flatten/expand,
   phrase walk, frag windows, boundary-scanned tagged fragments,
   byte-identical to the compiled reference, tools/fvh_fuzz.py) runs
   over the K JOINED ROWS ONLY in one mapInPandas — never corpus-scale
   Python.

Term weights are ``f32(ln(maxDoc/(df+1))+1)`` (``FieldTermStack.java:90``)
from the term dictionary; the driver collects only the query's own terms.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from lucene_spark.functions.fvh import (
    FieldQuery, best_fragments, term_weight,
)


def fvh_highlight_hits(
    searcher,
    hits: DataFrame,
    source: DataFrame,
    query,
    frag_char_size: int = 100,
    max_num_fragments: int = 3,
    *,
    phrase_highlight: bool = True,
    weighted: bool = False,
    score_order: bool = True,
    phrase_limit: int = 2 ** 31 - 1,
    margin: int = 6,
    pre_tags: tuple[str, ...] = ("<b>",),
    post_tags: tuple[str, ...] = ("</b>",),
) -> DataFrame:
    """hits(doc_id, score) -> DF(doc_id, score, conv_id, turn_idx,
    fragments array<string>) ordered (score desc, doc_id asc).

    ``query`` is an engine AST; multi-term queries (prefix/wildcard/
    fuzzy/regexp) are expanded through the searcher first — the
    reference's MultiTermQuery TopTerms rewrite
    (``FieldQuery.java:146-158``)."""
    from lucene_spark.index.merge import term_bucket_of
    from lucene_spark.query.ast import rewrite_fixpoint

    q = rewrite_fixpoint(searcher._expand_multi_term(rewrite_fixpoint(query)))
    fq = FieldQuery(q, phrase_highlight)
    terms = sorted(fq.term_set)

    pos = searcher.positions_table()
    if "starts" not in pos.columns:
        raise ValueError(
            "FVH needs stored offsets (IndexConfig.offsets=True)")

    num_docs = int(searcher.doc_count)
    dfs = {t: df for t, (df, _) in searcher.term_stats(terms).items()}
    weights = {t: term_weight(num_docs, dfs.get(t, 0)) for t in terms}

    buckets = sorted({term_bucket_of(t, searcher.buckets) for t in terms})
    occ_df = (
        pos.filter(F.col("term_bucket").isin(buckets)
                   & F.col("term").isin(terms))
        .join(F.broadcast(hits.select("doc_id")), "doc_id")
        .groupBy("doc_id")
        .agg(
            F.collect_list("term").alias("o_terms"),
            F.collect_list("positions").alias("o_pos"),
            F.collect_list("starts").alias("o_starts"),
            F.collect_list("ends").alias("o_ends"),
        )
    ) if terms else None

    dm = searcher.docmap().select("doc_id", "conv_id", "turn_idx")
    src = source.select("conv_id", "turn_idx", "text")
    joined = (
        F.broadcast(hits.select("doc_id", "score"))
        .join(dm, "doc_id")
        .join(src, ["conv_id", "turn_idx"])
    )
    if occ_df is not None:
        joined = joined.join(occ_df, "doc_id", "left")
    else:
        joined = (joined
                  .withColumn("o_terms", F.lit(None).cast("array<string>"))
                  .withColumn("o_pos", F.lit(None)
                              .cast("array<array<int>>"))
                  .withColumn("o_starts", F.lit(None)
                              .cast("array<array<int>>"))
                  .withColumn("o_ends", F.lit(None)
                              .cast("array<array<int>>")))

    params = dict(
        frag_char_size=int(frag_char_size),
        max_num_fragments=int(max_num_fragments),
        phrase_highlight=bool(phrase_highlight), weighted=bool(weighted),
        score_order=bool(score_order), phrase_limit=int(phrase_limit),
        margin=int(margin), pre_tags=tuple(pre_tags),
        post_tags=tuple(post_tags),
    )

    def frag(batches):
        for pdf in batches:
            out = pdf[["doc_id", "score", "conv_id", "turn_idx"]].copy()
            frags = []
            for text, ts, ps, ss, es in zip(
                    pdf["text"], pdf["o_terms"], pdf["o_pos"],
                    pdf["o_starts"], pdf["o_ends"]):
                if ts is None or len(ts) == 0:
                    frags.append([])
                    continue
                occ = []
                missing = False
                for t, pl, sl, el in zip(ts, ps, ss, es):
                    for p, s, e in zip(pl, sl, el):
                        if s < 0:  # offsets degraded for this row
                            missing = True
                            break
                        occ.append((t, int(p), int(s), int(e)))
                    if missing:
                        break
                if missing:
                    frags.append([])  # the reference's "null snippet" arm
                    continue
                frags.append(best_fragments(
                    text or "", occ, weights, fq, **params))
            out["fragments"] = frags
            yield out

    return joined.mapInPandas(
        frag,
        schema=("doc_id long, score float, conv_id string, turn_idx int, "
                "fragments array<string>"),
    ).orderBy(F.desc("score"), F.asc("doc_id"))

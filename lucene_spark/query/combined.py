"""CombinedFieldQuery / BM25F analog over per-field indexes.

The reference scores multiple fields as ONE merged pseudo-field
(``lucene/sandbox/.../CombinedFieldQuery.java:79``: term freqs summed
across fields with per-field weights, norms likewise merged, BM25 applied
once to the combined stats). This engine reaches the same semantics with
per-field indexes that SHARE docIDs — built over the same transcript
DataFrame, whose stable (conv_id, turn_idx) ordering makes docIDs align by
construction — so no index-format change is needed:

  combined freq(term, doc)  = Σ_f  w_f * freq_f(term, doc)
  combined length(doc)      = Σ_f  w_f * len_f(doc)   (SmallFloat-quantized
                              after rounding — documented simplification of
                              the reference's per-field norm merge)
  sumTotalTermFreq          = Σ_f  w_f * sttf_f  ->  avgdl of the pseudo-field
  docFreq(term)             = |docs where the combined freq > 0|
  score                     = Σ_terms BM25(w_t, cfreq, cnorm)   (SHOULD sum,
                              double-accumulated, float32 cast)

All float32 boundaries follow the engine's BM25 discipline, so a DuckDB
twin replays scores bit-exactly (see __spark_entry__.combined_field SQL).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucene_spark.functions import bm25
from lucene_spark.index.merge import term_bucket_of


def _decode_freqs(searcher, terms: list[str]) -> DataFrame:
    """DF(term, doc_id, freq) for a term set over one field's index —
    multi-term postings decode (one scan, blocks spread before decode)."""
    buckets = sorted({term_bucket_of(t, searcher.buckets) for t in terms})
    scan = (
        searcher.postings.filter(
            F.col("term_bucket").isin(buckets) & F.col("term").isin(sorted(terms))
        )
        .select("term", "num_docs", "first_doc", "data")
        .repartition(searcher.spark.sparkContext.defaultParallelism)
    )

    def decode(batches):
        from lucene_spark.functions.codec import decode_blocks_batch

        for pdf in batches:
            if len(pdf):
                nd = pdf["num_docs"].to_numpy(np.int64)
                d, f, _ = decode_blocks_batch(pdf["data"], nd,
                                              pdf["first_doc"])
                yield pd.DataFrame({
                    "term": np.repeat(pdf["term"].to_numpy(object), nd),
                    "doc_id": d, "freq": f})

    return scan.mapInPandas(decode, schema="term string, doc_id long, freq long")


def combined_field_search(
    spark: SparkSession,
    fields: dict[str, tuple[object, float]],
    terms: list[str],
    k: int = 10,
) -> DataFrame:
    """Top-k BM25F over ``fields`` = {name: (IndexSearcher, weight)}.

    Returns DF(doc_id, score float) in (score desc, doc_id asc) order.
    Requires every field index to cover the same docID space (same source
    DataFrame ordering)."""
    terms = sorted(set(terms))
    searchers = [(s, float(w)) for s, w in fields.values()]
    n_docs = searchers[0][0].doc_count
    if any(s.doc_count != n_docs for s, _ in searchers):
        raise ValueError("combined fields must share the docID space")

    # merged collection stats -> pseudo-field avgdl (float32 boundary as the
    # single-field avgdl: double ratio cast f32)
    sttf_c = sum(w * s.sum_ttf for s, w in searchers)
    avgdl_c = np.float32(sttf_c / float(n_docs))
    cache = bm25.norm_inverse_cache(avgdl_c)

    # combined per-(term, doc) freq — union of per-field decodes, one groupBy
    per_field = [
        _decode_freqs(s, terms).select(
            "term", "doc_id", (F.col("freq") * F.lit(w)).alias("wf")
        )
        for s, w in searchers
    ]
    u = per_field[0]
    for d in per_field[1:]:
        u = u.unionByName(d)
    # materialize: the df collect below AND the final scoring plan both
    # consume cfreq — without the checkpoint each would re-run the whole
    # multi-field postings decode (the dominant per-query cost); blocks
    # are reclaimed by the ContextCleaner when the frame is released
    cfreq = (u.groupBy("term", "doc_id").agg(F.sum("wf").alias("cfreq"))
             .localCheckpoint(eager=True))

    # per-term df of the pseudo-field (tiny collect: |terms| rows)
    dfs = {
        r["term"]: int(r["df"])
        for r in cfreq.groupBy("term").agg(F.count("*").alias("df")).collect()
    }
    weights = {
        t: bm25.weight(1.0, bm25.idf(dfs[t], n_docs)) for t in terms if t in dfs
    }
    if not weights:
        return spark.createDataFrame([], "doc_id long, score float")

    # combined per-doc length -> SmallFloat norm byte (rounded; exact when
    # field weights are integral, the common BM25F configuration)
    lens = None
    for i, (s, w) in enumerate(searchers):
        dm = s.docmap().select(
            "doc_id", (F.col("field_len").cast("double") * F.lit(w)).alias(f"l{i}")
        )
        lens = dm if lens is None else lens.join(dm, "doc_id")
    clen = lens.select(
        "doc_id",
        F.round(sum(F.col(f"l{i}") for i in range(len(searchers))))
        .cast("long").alias("clen"),
    )

    w_entries = []
    for t, w in weights.items():
        w_entries += [F.lit(t), F.lit(float(w))]
    wmap = F.create_map(*w_entries)
    joined = cfreq.join(clen, "doc_id").select(
        "doc_id", wmap[F.col("term")].alias("w"), "cfreq", "clen"
    )

    def score_batches(batches):
        from lucene_spark.functions.smallfloat import int_to_byte4_np

        for pdf in batches:
            nb = int_to_byte4_np(pdf["clen"].to_numpy(np.int64))
            inv = cache[nb & 0xFF]
            f32 = pdf["cfreq"].to_numpy(np.float64).astype(np.float32)
            w32 = pdf["w"].to_numpy(np.float64).astype(np.float32)
            one = np.float32(1.0)
            s = (w32 - w32 / (one + f32 * inv)).astype(np.float32)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].to_numpy(np.int64), "score": s}
            )

    per_term = joined.mapInPandas(score_batches, schema="doc_id long, score float")
    agg = per_term.groupBy("doc_id").agg(
        F.sum(F.col("score").cast("double")).cast("float").alias("score")
    )
    # tombstones: the field indexes share docIDs, so apply every index's
    # live-docs anti-join (before the limit — same contract as search():
    # deleted docs drop out immediately, stats shift only at expunge)
    for s, _ in searchers:
        agg = s._live(agg)
    return agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def combined_field_sql(
    field_exprs: dict[str, tuple[str, float]],
    terms: list[str],
    k: int,
    table: str = "documents",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin: each field is a SQL text expression over ``table``
    (e.g. {"title": ("substring(text, 1, 80)", 2.0), "body": ("text", 1.0)});
    replays the combined freq/length/stats arithmetic with the engine's
    float32 boundaries (REAL casts)."""
    from lucene_spark.plans.sqlgen import B4_DEC, B4_ENC

    names = list(field_exprs)
    tok = "regexp_extract_all(lower({e}), '[a-z0-9]+')"
    toks_ctes = ",\n".join(
        f"""t_{n} AS (
  SELECT {id_col} AS doc_id, unnest({tok.format(e=field_exprs[n][0])}) AS term
  FROM {table}
), tf_{n} AS (
  SELECT doc_id, term, count(*) AS freq FROM t_{n} GROUP BY doc_id, term
), len_{n} AS (
  SELECT d.{id_col} AS doc_id,
         coalesce(x.c, 0) AS l
  FROM {table} d LEFT JOIN (
    SELECT doc_id, count(*) AS c FROM t_{n} GROUP BY doc_id
  ) x ON x.doc_id = d.{id_col}
)"""
        for n in names
    )
    inlist = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    cfreq_union = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, term, freq * {field_exprs[n][1]!r} AS wf FROM tf_{n}"
        for n in names
    )
    clen_sum = " + ".join(
        f"{field_exprs[n][1]!r} * ln_{i}.l" for i, n in enumerate(names)
    )
    clen_joins = " ".join(
        f"JOIN len_{n} ln_{i} ON ln_{i}.doc_id = d.{id_col}"
        for i, n in enumerate(names)
    )
    sttf_sum = " + ".join(
        f"{field_exprs[n][1]!r} * (SELECT sum(l) FROM len_{n})" for n in names
    )
    quant = B4_DEC.format(b="(" + B4_ENC.format(i="cl.clen") + ")")
    inv = (
        "(CAST(1 AS REAL) / (CAST(1.2 AS REAL) * ((CAST(1 AS REAL) - CAST(0.75 AS REAL)) + "
        f"(CAST(0.75 AS REAL) * CAST({quant} AS REAL)) / c.avgdl)))"
    )
    return f"""
WITH {toks_ctes},
consts AS (
  SELECT CAST(({sttf_sum}) / CAST((SELECT count(*) FROM {table}) AS DOUBLE) AS REAL) AS avgdl,
         (SELECT count(*) FROM {table}) AS n FROM (SELECT 1)
),
cf AS (
  SELECT doc_id, term, sum(wf) AS cfreq FROM (
{cfreq_union}
  ) WHERE term IN ({inlist}) GROUP BY doc_id, term
),
cdf AS (
  SELECT term, count(*) AS df FROM cf GROUP BY term
),
cl AS (
  SELECT d.{id_col} AS doc_id, CAST(round({clen_sum}) AS BIGINT) AS clen
  FROM {table} d {clen_joins}
),
scored AS (
  SELECT cf.doc_id,
         (w.v - w.v / (CAST(1 AS REAL) + CAST(cf.cfreq AS REAL) * {inv})) AS score
  FROM cf
  JOIN (SELECT term, CAST(ln(1 + (c.n - df + 0.5) / (df + 0.5)) AS REAL) AS v
        FROM cdf, consts c) w ON w.term = cf.term
  JOIN cl ON cl.doc_id = cf.doc_id, consts c
)
SELECT doc_id, CAST(sum(CAST(score AS DOUBLE)) AS REAL) AS score
FROM scored GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
""".strip()

"""Compile flat Boolean BM25 queries to ANSI/DuckDB SQL.

Dual-execution oracle generator: the emitted SQL recomputes the engine's
exact result — including bit-identical float32 scores — on the raw corpus
table, using only portable SQL (REAL casts for float32 ops, the `simple`
[a-z0-9]+ analyzer that regexp_extract_all reproduces, and a closed-form
SmallFloat intToByte4/byte4ToInt in CASE expressions).

This is the engine's answer to the reference's CheckHits/TestBoolean2 idiom
(optimized execution cross-checked against a dumb independent one), and it is
what the driver's DuckDB correctness gate runs.

Float32 discipline (verified bit-exact against numpy float32):
  - DuckDB REAL op REAL evaluates in C float; every intermediate is CAST to
    REAL exactly where the engine keeps float32.
  - idf/avgdl computed in DOUBLE then CAST REAL (BM25Similarity.java:101-109).
  - clause sum in DOUBLE, final CAST REAL (ConjunctionScorer.java:57-63).
"""

from __future__ import annotations

from lucene_spark.query.ast import (
    BooleanQuery,
    BoostQuery,
    PrefixQuery,
    Query,
    TermQuery,
    rewrite_fixpoint,
)

# SmallFloat.intToByte4 (closed form; {i} must be a non-negative int expr)
B4_ENC = (
    "CASE WHEN {i} < 24 THEN {i} ELSE 24 + ("
    "CASE WHEN ({i}-24) < 8 THEN ({i}-24) "
    "ELSE (((({i}-24) >> (CAST(floor(log2({i}-24)) AS INT) - 3)) & 7) "
    "| ((CAST(floor(log2({i}-24)) AS INT) - 2) << 3)) END) END"
)
# SmallFloat.byte4ToInt
B4_DEC = (
    "CASE WHEN {b} < 24 THEN {b} ELSE 24 + ("
    "CASE WHEN (({b}-24) >> 3) = 0 THEN ({b}-24) & 7 "
    "ELSE ((({b}-24) & 7) | 8) << ((({b}-24) >> 3) - 1) END) END"
)

TOKEN_SQL = "regexp_extract_all(lower({col}), '[a-z0-9]+')"


def _quantized_len(dl_expr: str) -> str:
    """byte4ToInt(intToByte4(dl)) — the norm round-trip the scorer sees."""
    return B4_DEC.format(b="(" + B4_ENC.format(i=dl_expr) + ")")


def corpus_ctes(table: str, id_col: str, text_col: str,
                stop: tuple[str, ...] = (),
                vocab_map: tuple[tuple[str, str], ...] = (),
                synonyms: tuple[tuple[str, str], ...] = (),
                drop_where: str = "") -> str:
    """Shared CTEs: tokens, per-doc length, collection stats. ``stop``
    replays a StopFilter chain: stopped tokens are excluded from tf/df AND
    from the per-doc length (field_len counts surviving tokens only).
    ``vocab_map`` replays a vocabulary-level transform applied AFTER stop
    removal (the EnglishAnalyzer tail: Porter stem) as an embedded
    (orig, mapped) mapping; unmapped terms pass through unchanged — exact
    when the mapping covers every corpus term the transform rewrites.
    ``synonyms`` replays index-time SynonymGraph stacking: each (orig, syn)
    pair adds a ``syn`` token wherever ``orig`` occurs — counted in tf/df
    but NOT in the per-doc length (posIncr-0 overlaps, discountOverlaps).
    ``drop_where`` is a SQL predicate over ``{term}`` replaying a
    predicate-stop filter (LengthFilter/KeepWordFilter)."""
    def stop_where(col: str) -> str:
        # ``drop_where`` is a SQL predicate over {term} marking DROPPED
        # tokens (PredicateStop twin: LengthFilter / KeepWordFilter)
        conds = []
        if stop:
            conds.append(f"{col} NOT IN ("
                         + ", ".join(f"'{w}'" for w in sorted(stop)) + ")")
        if drop_where:
            conds.append("NOT (" + drop_where.format(term=col) + ")")
        return ("WHERE " + " AND ".join(conds)) if conds else ""

    if vocab_map:
        map_values = ", ".join(
            f"('{a}', '{b}')" for a, b in sorted(vocab_map)
        )
        toks = f"""
toks AS (
  SELECT r.doc_id, coalesce(m.mapped, r.term) AS term
  FROM (
    SELECT {id_col} AS doc_id, unnest({TOKEN_SQL.format(col=text_col)}) AS term
    FROM {table}
  ) r
  LEFT JOIN (VALUES {map_values}) m(orig, mapped) ON r.term = m.orig
  {stop_where('r.term')}
),"""
    else:
        toks = f"""
toks AS (
  SELECT doc_id, term FROM (
    SELECT {id_col} AS doc_id, unnest({TOKEN_SQL.format(col=text_col)}) AS term
    FROM {table}
  ) {stop_where('term')}
),"""
    tf_src = "toks"
    syn_cte = ""
    if synonyms:
        syn_values = ", ".join(
            f"('{a}', '{b}')" for a, b in sorted(synonyms)
        )
        syn_cte = f"""
toks_all AS (
  SELECT doc_id, term FROM toks
  UNION ALL
  SELECT t.doc_id, s.syn AS term
  FROM toks t JOIN (VALUES {syn_values}) s(orig, syn) ON t.term = s.orig
),"""
        tf_src = "toks_all"
    return f"""{toks.strip()}
{syn_cte.strip()}
dl AS (
  SELECT d.{id_col} AS doc_id, CAST(coalesce(t.cnt, 0) AS BIGINT) AS dl
  FROM {table} d
  LEFT JOIN (SELECT doc_id, count(*) AS cnt FROM toks GROUP BY doc_id) t
    ON d.{id_col} = t.doc_id
),
st AS (SELECT count(*) AS dc, CAST(sum(dl) AS BIGINT) AS sttf FROM dl),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS freq FROM {tf_src} GROUP BY doc_id, term),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term)
""".strip()


def shingle_corpus_ctes(table: str, id_col: str, text_col: str,
                        stop: tuple[str, ...] = ()) -> str:
    """corpus_ctes twin for a ShingleFilter(2,2, outputUnigrams) chain
    (``shingle/ShingleFilter.java``): emitted terms = surviving unigrams +
    space-joined adjacent pairs over the FILLER-EXPANDED stream (a stopped
    token becomes one '_' filler — cap = maxShingleSize-1 = 1 per gap,
    incl. a trailing filler when the doc ends in stopped tokens); shingles
    are skipped only when both slots are fillers (impossible mid-stream at
    cap 1). Per-doc length counts posIncr>0 emissions: every unigram plus
    every filler-initial emitted shingle (discountOverlaps semantics)."""
    if not stop:
        # no gaps: every adjacent token pair shingles; dl = token count
        return f"""
rawt AS (
  SELECT doc_id, unnest(toks) AS term, unnest(range(1, len(toks) + 1)) AS ord
  FROM (SELECT {id_col} AS doc_id, {TOKEN_SQL.format(col=text_col)} AS toks
        FROM {table})
),
seq AS (
  SELECT doc_id, term,
         lead(term) OVER (PARTITION BY doc_id ORDER BY ord) AS nterm
  FROM rawt
),
emitted AS (
  SELECT doc_id, term, 1 AS inc FROM seq
  UNION ALL
  SELECT doc_id, term || ' ' || nterm, 0 FROM seq WHERE nterm IS NOT NULL
),
dl AS (
  SELECT d.{id_col} AS doc_id, CAST(coalesce(t.cnt, 0) AS BIGINT) AS dl
  FROM {table} d
  LEFT JOIN (SELECT doc_id, CAST(sum(inc) AS BIGINT) AS cnt FROM emitted
             GROUP BY doc_id) t ON d.{id_col} = t.doc_id
),
st AS (SELECT count(*) AS dc, CAST(sum(dl) AS BIGINT) AS sttf FROM dl),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS freq FROM emitted
       GROUP BY doc_id, term),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term)
""".strip()
    stop_list = ", ".join(f"'{w}'" for w in sorted(stop))
    return f"""
rawt AS (
  SELECT doc_id, unnest(toks) AS term, unnest(range(1, len(toks) + 1)) AS ord
  FROM (SELECT {id_col} AS doc_id, {TOKEN_SQL.format(col=text_col)} AS toks
        FROM {table})
),
nraw AS (SELECT doc_id, max(ord) AS mx FROM rawt GROUP BY doc_id),
surv AS (
  SELECT doc_id, ord, term,
         row_number() OVER w AS rk,
         coalesce(lag(ord) OVER w, 0) AS prev_ord
  FROM rawt WHERE term NOT IN ({stop_list})
  WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
),
expd AS (
  SELECT doc_id, rk * 2 AS k, term, FALSE AS fil FROM surv
  UNION ALL
  SELECT doc_id, rk * 2 - 1, '_', TRUE FROM surv WHERE ord - prev_ord >= 2
  UNION ALL
  SELECT s.doc_id, s.rkmax * 2 + 1, '_', TRUE
  FROM (SELECT doc_id, max(rk) AS rkmax, max(ord) AS omax FROM surv
        GROUP BY doc_id) s
  JOIN nraw n ON n.doc_id = s.doc_id
  WHERE n.mx > s.omax
),
seq AS (
  SELECT doc_id, k, term, fil,
         lead(term) OVER w AS nterm, lead(fil) OVER w AS nfil
  FROM expd WINDOW w AS (PARTITION BY doc_id ORDER BY k)
),
emitted AS (
  SELECT doc_id, term, 1 AS inc FROM seq WHERE NOT fil
  UNION ALL
  SELECT doc_id, term || ' ' || nterm, CASE WHEN fil THEN 1 ELSE 0 END
  FROM seq WHERE nterm IS NOT NULL AND NOT (fil AND nfil)
),
dl AS (
  SELECT d.{id_col} AS doc_id, CAST(coalesce(t.cnt, 0) AS BIGINT) AS dl
  FROM {table} d
  LEFT JOIN (SELECT doc_id, CAST(sum(inc) AS BIGINT) AS cnt FROM emitted
             GROUP BY doc_id) t ON d.{id_col} = t.doc_id
),
st AS (SELECT count(*) AS dc, CAST(sum(dl) AS BIGINT) AS sttf FROM dl),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS freq FROM emitted
       GROUP BY doc_id, term),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term)
""".strip()


def ngram_corpus_ctes(table: str, id_col: str, text_col: str,
                      kind: str) -> str:
    """corpus_ctes twin for the character-n-gram chains
    (``ngram/NGramTokenFilter.java`` / ``EdgeNGramTokenFilter.java``):
    ``kind='ngram'`` = NGram(1,2) — every 1- and 2-char gram of every
    token; ``kind='edge'`` = EdgeNGram(1,5, preserveOriginal) — prefixes
    up to 5 chars plus the verbatim token when longer. All grams of a
    token stack at its position (posIncr 0 after the first), so dl counts
    one per token."""
    base = f"""
toks AS (
  SELECT {id_col} AS doc_id, unnest({TOKEN_SQL.format(col=text_col)}) AS term
  FROM {table}
),"""
    if kind == "ngram":
        emitted = """
emitted AS (
  SELECT doc_id, unnest(list_transform(range(1, length(term) + 1),
                                       i -> substr(term, i, 1))) AS term
  FROM toks
  UNION ALL
  SELECT doc_id, unnest(list_transform(range(1, length(term)),
                                       i -> substr(term, i, 2)))
  FROM toks WHERE length(term) >= 2
),"""
    elif kind == "edge":
        emitted = """
emitted AS (
  SELECT doc_id, unnest(list_transform(range(1, least(length(term), 5) + 1),
                                       i -> substr(term, 1, i))) AS term
  FROM toks
  UNION ALL
  SELECT doc_id, term FROM toks WHERE length(term) > 5
),"""
    else:
        raise ValueError(kind)
    return (base.strip() + emitted + f"""
dl AS (
  SELECT d.{id_col} AS doc_id, CAST(coalesce(t.cnt, 0) AS BIGINT) AS dl
  FROM {table} d
  LEFT JOIN (SELECT doc_id, count(*) AS cnt FROM toks GROUP BY doc_id) t
    ON d.{id_col} = t.doc_id
),
st AS (SELECT count(*) AS dc, CAST(sum(dl) AS BIGINT) AS sttf FROM dl),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS freq FROM emitted
       GROUP BY doc_id, term),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term)
""").strip()


def common_grams_corpus_ctes(table: str, id_col: str, text_col: str,
                             common: tuple[str, ...]) -> str:
    """corpus_ctes twin for CommonGramsFilter
    (``commongrams/CommonGramsFilter.java``): every token is a unigram;
    adjacent pairs where either side is a common word add a
    "prev_current" gram stacked at the previous position (posIncr 0) —
    dl counts unigrams only."""
    common_list = ", ".join(f"'{w}'" for w in sorted(common))
    return f"""
rawt AS (
  SELECT doc_id, unnest(toks) AS term, unnest(range(1, len(toks) + 1)) AS ord
  FROM (SELECT {id_col} AS doc_id, {TOKEN_SQL.format(col=text_col)} AS toks
        FROM {table})
),
seq AS (
  SELECT doc_id, term, ord,
         lag(term) OVER (PARTITION BY doc_id ORDER BY ord) AS prev
  FROM rawt
),
emitted AS (
  SELECT doc_id, term FROM rawt
  UNION ALL
  SELECT doc_id, prev || '_' || term
  FROM seq
  WHERE prev IS NOT NULL
    AND (prev IN ({common_list}) OR term IN ({common_list}))
),
dl AS (
  SELECT d.{id_col} AS doc_id, CAST(coalesce(t.cnt, 0) AS BIGINT) AS dl
  FROM {table} d
  LEFT JOIN (SELECT doc_id, count(*) AS cnt FROM rawt GROUP BY doc_id) t
    ON d.{id_col} = t.doc_id
),
st AS (SELECT count(*) AS dc, CAST(sum(dl) AS BIGINT) AS sttf FROM dl),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS freq FROM emitted
       GROUP BY doc_id, term),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term)
""".strip()


def pattern_capture_corpus_ctes(table: str, id_col: str, text_col: str
                                ) -> str:
    """corpus_ctes twin for the ``pattern_capture`` chain
    (``pattern/PatternCaptureGroupTokenFilter.java`` with pattern
    "([a-z]{3})", preserveOriginal): every token is emitted verbatim plus
    its non-overlapping 3-char chunks stacked at posIncr 0 — except a
    token of length exactly 3, whose single capture equals the whole
    token and is suppressed (the start==0 && end==length rule). dl counts
    originals only."""
    return f"""
toks AS (
  SELECT {id_col} AS doc_id, unnest({TOKEN_SQL.format(col=text_col)}) AS term
  FROM {table}
),
emitted AS (
  SELECT doc_id, term FROM toks
  UNION ALL
  SELECT doc_id, unnest(list_transform(range(1, length(term) - 1, 3),
                                       i -> substr(term, i, 3))) AS term
  FROM toks WHERE length(term) >= 4
),
dl AS (
  SELECT d.{id_col} AS doc_id, CAST(coalesce(t.cnt, 0) AS BIGINT) AS dl
  FROM {table} d
  LEFT JOIN (SELECT doc_id, count(*) AS cnt FROM toks GROUP BY doc_id) t
    ON d.{id_col} = t.doc_id
),
st AS (SELECT count(*) AS dc, CAST(sum(dl) AS BIGINT) AS sttf FROM dl),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS freq FROM emitted
       GROUP BY doc_id, term),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term)
""".strip()


def pattern_group_corpus_ctes(table: str, id_col: str, text_col: str,
                              pattern_sql: str) -> str:
    """corpus_ctes twin for the ``pattern_group`` chain
    (``pattern/PatternTokenizer.java`` group>=0): tokens are the match
    extractions of ``pattern_sql`` (an RE2 pattern whose full match
    equals the chain's capture group), posIncr 1 each."""
    return f"""
toks AS (
  SELECT {id_col} AS doc_id,
         unnest(regexp_extract_all({text_col}, '{pattern_sql}')) AS term
  FROM {table}
),
dl AS (
  SELECT d.{id_col} AS doc_id, CAST(coalesce(t.cnt, 0) AS BIGINT) AS dl
  FROM {table} d
  LEFT JOIN (SELECT doc_id, count(*) AS cnt FROM toks GROUP BY doc_id) t
    ON d.{id_col} = t.doc_id
),
st AS (SELECT count(*) AS dc, CAST(sum(dl) AS BIGINT) AS sttf FROM dl),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS freq FROM toks
       GROUP BY doc_id, term),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term)
""".strip()


def path_corpus_ctes(table: str, id_col: str, text_col: str,
                     reverse: bool = False) -> str:
    """corpus_ctes twin for the ``path_hierarchy`` /
    ``path_hierarchy_reverse`` chains over the derived 3-component path
    '/w1/w2/w3' (w_i = the document's first three whitespace words):
    forward (``path/PathHierarchyTokenizer.java``) emits the cumulative
    prefixes '/w1', '/w1/w2', '/w1/w2/w3'; reverse
    (``ReversePathHierarchyTokenizer.java``) emits the full path plus the
    suffixes starting after each delimiter. posIncr 1 each, so dl = 3
    (forward) / 4 (reverse)."""
    comps = f"""
comps AS (
  SELECT {id_col} AS doc_id, sp[1] AS w1, sp[2] AS w2, sp[3] AS w3
  FROM (SELECT {id_col}, str_split({text_col}, ' ') AS sp FROM {table})
),"""
    if reverse:
        emitted = """
emitted AS (
  SELECT doc_id, '/' || w1 || '/' || w2 || '/' || w3 AS term FROM comps
  UNION ALL SELECT doc_id, w1 || '/' || w2 || '/' || w3 FROM comps
  UNION ALL SELECT doc_id, w2 || '/' || w3 FROM comps
  UNION ALL SELECT doc_id, w3 FROM comps
),"""
    else:
        emitted = """
emitted AS (
  SELECT doc_id, '/' || w1 AS term FROM comps
  UNION ALL SELECT doc_id, '/' || w1 || '/' || w2 FROM comps
  UNION ALL SELECT doc_id, '/' || w1 || '/' || w2 || '/' || w3 FROM comps
),"""
    return (comps.strip() + emitted + f"""
dl AS (
  SELECT d.{id_col} AS doc_id, CAST(coalesce(t.cnt, 0) AS BIGINT) AS dl
  FROM {table} d
  LEFT JOIN (SELECT doc_id, count(*) AS cnt FROM emitted
             WHERE term IS NOT NULL GROUP BY doc_id) t
    ON d.{id_col} = t.doc_id
),
st AS (SELECT count(*) AS dc, CAST(sum(dl) AS BIGINT) AS sttf FROM dl),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS freq FROM emitted
       WHERE term IS NOT NULL GROUP BY doc_id, term),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term)
""").strip()


def minhash_corpus_ctes(table: str, id_col: str, text_col: str,
                        vocab_hash: tuple[tuple[str, str], ...]) -> str:
    """corpus_ctes twin for the ``minhash_unigram`` chain
    (``minhash/MinHashFilter.java`` with hashCount=1, bucketCount=1,
    hashSetSize=5): per doc, the 5 smallest DISTINCT token hashes.
    ``vocab_hash`` maps every corpus token to its hex term (computed by
    the Python murmur port — fixed-width hex, so lexicographic term order
    equals the reference's unsigned (val2, val1) order). dl = 1 per
    non-empty doc (all minhash tokens stack at one position)."""
    values = ", ".join(f"('{w}', '{h}')" for w, h in vocab_hash)
    return f"""
hashes(term_src, term) AS (VALUES {values}),
toks AS (
  SELECT {id_col} AS doc_id, unnest({TOKEN_SQL.format(col=text_col)}) AS term_src
  FROM {table}
),
hashed AS (
  SELECT DISTINCT t.doc_id, h.term FROM toks t
  JOIN hashes h ON h.term_src = t.term_src
),
emitted AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, term,
           row_number() OVER (PARTITION BY doc_id ORDER BY term) AS rn
    FROM hashed)
  WHERE rn <= 5
),
dl AS (
  SELECT d.{id_col} AS doc_id,
         CAST(CASE WHEN t.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS dl
  FROM {table} d
  LEFT JOIN (SELECT DISTINCT doc_id FROM emitted) t ON d.{id_col} = t.doc_id
),
st AS (SELECT count(*) AS dc, CAST(sum(dl) AS BIGINT) AS sttf FROM dl),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS freq FROM emitted
       GROUP BY doc_id, term),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term)
""".strip()


def _norm_inv(dl_q: str, k1: float = 1.2, b: float = 0.75) -> str:
    """1f / (k1 * ((1-b) + b*len/avgdl)) in pure REAL ops (BM25Similarity
    cache formula; avgdl comes from consts c)."""
    return (
        f"(CAST(1 AS REAL) / (CAST({k1!r} AS REAL) * ((CAST(1 AS REAL) - CAST({b!r} AS REAL)) + "
        f"(CAST({b!r} AS REAL) * CAST({dl_q} AS REAL)) / c.avgdl)))"
    )


def _leaf_score(weight_expr: str, freq_expr: str, dl_expr: str,
                k1: float = 1.2, b: float = 0.75) -> str:
    inv = _norm_inv(_quantized_len(dl_expr), k1, b)
    return (
        f"({weight_expr} - {weight_expr} / "
        f"(CAST(1 AS REAL) + CAST({freq_expr} AS REAL) * {inv}))"
    )


def _idf_expr() -> str:
    # ln in double, cast REAL; df/dc from joined tables
    return "CAST(ln(1 + (c.dc - ldf.df + 0.5) / (ldf.df + 0.5)) AS REAL)"


def _classic_idf_expr() -> str:
    """ClassicSimilarity.idf: (float)(log((dc+1)/(df+1)) + 1.0)
    (``ClassicSimilarity.java:69-71``) — double math, one REAL cast."""
    return "CAST(ln((c.dc + 1) / CAST(ldf.df + 1 AS DOUBLE)) + 1.0 AS REAL)"


def _classic_leaf_score(weight_expr: str, freq_expr: str, dl_expr: str) -> str:
    """TFIDFScorer.score (``TFIDFSimilarity.java:470-475``):
    raw = (float)sqrt(freq) * queryWeight; raw * normTable[norm].
    normTable[i] = (float)(1/sqrt(byte4ToInt(i))) (``:436-449``; the [0]
    special case is unreachable for matched rows — freq>=1 => len>=1).
    Each multiply is a float32 op: REAL * REAL stays REAL in DuckDB."""
    tf = f"CAST(sqrt(CAST({freq_expr} AS DOUBLE)) AS REAL)"
    norm = (
        f"CAST(1.0 / sqrt(CAST({_quantized_len(dl_expr)} AS DOUBLE)) AS REAL)"
    )
    return f"(({tf} * {weight_expr}) * {norm})"


def _sweetspot_leaf_score(weight_expr: str, freq_expr: str,
                          dl_expr: str) -> str:
    """SweetSpotSimilarity (misc/SweetSpotSimilarity.java:95-180) with the
    SWEETSPOT_DEMO factors (functions/similarity.py): baselineTf — freq <=
    tf_min scores the flat base, else (float) sqrt((freq + base^2) -
    min); lengthNorm — 1/sqrt(s*(|L-min|+|L-max|-(max-min)) + 1) over the
    quantized length, float32 boundaries as in the Java source."""
    from lucene_spark.functions.similarity import SWEETSPOT_DEMO

    ln_min, ln_max, ln_steep, tf_base, tf_min = SWEETSPOT_DEMO
    b2 = float(tf_base) * float(tf_base)  # float32-exact for 1.5
    tf = (
        f"CASE WHEN CAST({freq_expr} AS REAL) <= CAST({tf_min!r} AS REAL) "
        f"THEN CAST({tf_base!r} AS REAL) "
        f"ELSE CAST(sqrt(CAST((CAST({freq_expr} AS REAL) + CAST({b2!r} AS REAL))"
        f" - CAST({tf_min!r} AS REAL) AS DOUBLE)) AS REAL) END"
    )
    ql = _quantized_len(dl_expr)
    inner = (
        f"CAST(CAST({ln_steep!r} AS REAL) * CAST(abs(({ql}) - {ln_min}) "
        f"+ abs(({ql}) - {ln_max}) - {ln_max - ln_min} AS REAL) AS REAL)"
        f" + CAST(1 AS REAL)"
    )
    norm = f"CAST(1.0 / sqrt(CAST({inner} AS DOUBLE)) AS REAL)"
    return f"(({tf} * {weight_expr}) * {norm})"


def _sweetspot_hyper_leaf_score(weight_expr: str, freq_expr: str,
                                dl_expr: str) -> str:
    """SweetSpotSimilarity with the hyperbolicTf convenience function
    (misc/SweetSpotSimilarity.java:160-179, default factors min=0 max=2
    base=1.3 xoffset=10): min + (float)((max-min)/2.0f * (tanh-shaped
    base^x curve + 1.0d)) over x = (double)(freq - xoffset); NaN (inf/inf
    at large |x|) -> max, freq == 0 -> 0. lengthNorm/idf as sweetspot."""
    import numpy as np

    from lucene_spark.functions.similarity import SWEETSPOT_DEMO

    ln_min, ln_max, ln_steep = SWEETSPOT_DEMO[:3]
    hy_min, hy_max, hy_base, hy_xoff = 0.0, 2.0, 1.3, 10.0
    half = float(np.float32(np.float32(hy_max - hy_min) / np.float32(2.0)))
    x = (f"CAST(CAST(CAST({freq_expr} AS REAL) - CAST({hy_xoff!r} AS REAL)"
         f" AS REAL) AS DOUBLE)")
    curve = (f"((pow({hy_base!r}, {x}) - pow({hy_base!r}, -({x}))) / "
             f"(pow({hy_base!r}, {x}) + pow({hy_base!r}, -({x}))) + 1.0)")
    r0 = f"CAST(CAST({half!r} AS DOUBLE) * {curve} AS REAL)"
    result = f"CAST(CAST({hy_min!r} AS REAL) + {r0} AS REAL)"
    tf = (f"CASE WHEN CAST({freq_expr} AS REAL) = CAST(0 AS REAL) "
          f"THEN CAST(0 AS REAL) "
          f"WHEN isnan({result}) THEN CAST({hy_max!r} AS REAL) "
          f"ELSE {result} END")
    ql = _quantized_len(dl_expr)
    inner = (
        f"CAST(CAST({ln_steep!r} AS REAL) * CAST(abs(({ql}) - {ln_min}) "
        f"+ abs(({ql}) - {ln_max}) - {ln_max - ln_min} AS REAL) AS REAL)"
        f" + CAST(1 AS REAL)"
    )
    norm = f"CAST(1.0 / sqrt(CAST({inner} AS DOUBLE)) AS REAL)"
    return f"(({tf} * {weight_expr}) * {norm})"


# ------------------------------------------------- SimilarityBase twins

#: Math.log(2) as the exact double literal (SimilarityBase.LOG_2 — log2
#: is a DIVISION by this constant, not a native log2)
_LN2 = "0.6931471805599453"

#: float hyper-parameters exactly as the double widening of their f32
#: fields sees them
_F32 = {
    "lmjm_lam": "0.10000000149011612",       # (double) 0.1f
    "lmjm_1m": "0.8999999761581421",         # (double) (1 - 0.1f), f32 sub
    "ax_k": "0.3499999940395355",            # (double) 0.35f
    "nextup_1f": "1.0000001192092896",       # Math.nextUp(1.0f)
}


def _log2_sql(x: str) -> str:
    return f"(ln({x}) / {_LN2})"


def _stats_sim_leaf_score(similarity: str, freq_expr: str,
                          dl_expr: str) -> str:
    """SimilarityBase family leaf scores (functions/simbase.py twins) —
    DOUBLE arithmetic throughout with ONE final REAL cast, exactly
    BasicSimScorer.score's (float) boundary (SimilarityBase.java:193-196).
    References cl.boost / cl.df / cl.ttf (leaf_df) and c.dc / c.sttf /
    c.avgfl_d (consts); docLen is the byte4-quantized length as a DOUBLE,
    avgFieldLength the EXACT double sttf/dc (never the f32 avgdl)."""
    f = f"CAST({freq_expr} AS DOUBLE)"
    d = f"CAST({_quantized_len(dl_expr)} AS DOUBLE)"
    boost = "CAST(cl.boost AS DOUBLE)"
    avgfl = "c.avgfl_d"
    if similarity == "lm_dirichlet":
        # LMDirichletSimilarity.java:73-80, mu = 2000, p = (ttf+1)/(T+1)
        p = "((cl.ttf + 1.0) / (c.sttf + 1.0))"
        raw = (f"({boost} * (ln(1 + {f} / (2000.0 * {p})) "
               f"+ ln(2000.0 / ({d} + 2000.0))))")
        return f"CAST(CASE WHEN {raw} > 0 THEN {raw} ELSE 0.0 END AS REAL)"
    if similarity == "lm_jelinek_mercer":
        # LMJelinekMercerSimilarity.java:60-66, lambda = 0.1f; (1-lambda)
        # is a FLOAT subtract
        p = "((cl.ttf + 1.0) / (c.sttf + 1.0))"
        raw = (f"({boost} * ln(1 + ({_F32['lmjm_1m']} * {f} / {d}) "
               f"/ ({_F32['lmjm_lam']} * {p})))")
        return f"CAST({raw} AS REAL)"
    if similarity == "indri_dirichlet":
        # IndriDirichletSimilarity.java:61-66 — IndriCollectionModel
        # p = ttf/(double)T; NO boost in score(); negative scores kept
        p = "(cl.ttf / CAST(c.sttf AS DOUBLE))"
        return f"CAST(ln(({f} + 2000.0 * {p}) / ({d} + 2000.0)) AS REAL)"
    if similarity.startswith("dfi_"):
        # DFISimilarity.java:57-70: expected = (ttf+1)*docLen/(T+1);
        # freq <= expected scores 0; else boost * log2(measure + 1)
        e = f"(((cl.ttf + 1) * {d}) / (c.sttf + 1))"
        kind = similarity[4:]
        if kind == "chisquared":
            m = f"(({f} - {e}) * ({f} - {e}) / {e})"
        elif kind == "standardized":
            m = f"(({f} - {e}) / sqrt({e}))"
        else:
            m = f"(({f} - {e}) / {e})"
        raw = f"({boost} * {_log2_sql(f'({m} + 1.0)')})"
        return (f"CAST(CASE WHEN {f} <= {e} THEN 0.0 ELSE {raw} END "
                f"AS REAL)")
    if similarity.startswith("axiomatic_"):
        # Axiomatic.java:118-127: (tf * ln * tfln * idf - gamma) * boost,
        # Math.max(0, .); defaults s=0.25f, queryLen=1, k=0.35f
        v = similarity[len("axiomatic_"):]
        tf = (f"(1 + ln(1 + ln({f} + 1.0)))"
              if v in ("f1exp", "f1log", "f3exp", "f3log") else "1.0")
        lnc = (f"(({avgfl} + 0.25) / ({avgfl} + {d} * 0.25))"
               if v in ("f1exp", "f1log") else "1.0")
        tfln = (f"({f} / ({f} + 0.25 + 0.25 * {d} / {avgfl}))"
                if v in ("f2exp", "f2log") else "1.0")
        idf = (f"pow((c.dc + 1.0) / cl.df, {_F32['ax_k']})"
               if v.endswith("exp") else "ln((c.dc + 1.0) / cl.df)")
        gamma = (f"((({d} - 1) * 0.25) / {avgfl})"
                 if v in ("f3exp", "f3log") else "0.0")
        raw = f"((({tf} * {lnc} * {tfln} * {idf}) - {gamma}) * {boost})"
        return f"CAST(greatest(CAST(0 AS DOUBLE), {raw}) AS REAL)"
    if similarity == "dfr":
        # DFRSimilarity(I(ne), B, H2 c=1): tfn = tf*log2(1 + avgfl/len);
        # ae*(1+tfn) = (F+1+1.0)/(n+1); ne = N*(1-((N-1)/N)^F);
        # A = log2((N+1)/(ne+0.5)); score = boost*A*ae*(1 - 1/(1+tfn))
        tfn = f"({f} * {_log2_sql(f'(1.0 + 1.0 * {avgfl} / {d})')})"
        ae = "((cl.ttf + 1 + 1.0) / (cl.df + 1))"
        ne = ("(c.dc * (1.0 - pow((c.dc - 1) / CAST(c.dc AS DOUBLE), "
              "CAST(cl.ttf AS DOUBLE))))")
        a = _log2_sql(f"((c.dc + 1) / ({ne} + 0.5))")
        raw = f"({a} * {ae} * (1.0 - 1.0 / (1.0 + {tfn})))"
        return f"CAST({boost} * {raw} AS REAL)"
    if similarity == "ib_ll_ttf_h1":
        # IBSimilarity(LL, TTF, H1 c=1): lambda = f32((ttf+1)/(N+1))
        # (nextUp if == 1f, LambdaTTF.java:29-35); tfn = (tf*c)*(avgfl/len);
        # dist = -ln(lambda/(tfn+lambda))
        lam_r = "CAST((cl.ttf + 1.0) / (c.dc + 1.0) AS REAL)"
        lam = (f"CAST(CASE WHEN {lam_r} = CAST(1 AS REAL) "
               f"THEN CAST({_F32['nextup_1f']} AS REAL) ELSE {lam_r} END "
               f"AS DOUBLE)")
        tfn = f"(({f} * 1.0) * ({avgfl} / {d}))"
        raw = f"(-ln({lam} / ({tfn} + {lam})))"
        return f"CAST({boost} * {raw} AS REAL)"
    if similarity == "raw_tf":
        # RawTFSimilarity.java:38-48: boost * freq, one float multiply
        return f"(cl.boost * CAST({freq_expr} AS REAL))"
    raise ValueError(f"unknown stats similarity {similarity!r}")


STATS_SIMS = (
    "lm_dirichlet", "lm_jelinek_mercer", "indri_dirichlet",
    "dfi_chisquared", "dfi_standardized", "dfi_saturated",
    "axiomatic_f1exp", "axiomatic_f1log", "axiomatic_f2exp",
    "axiomatic_f2log", "axiomatic_f3exp", "axiomatic_f3log",
    "dfr", "ib_ll_ttf_h1", "raw_tf",
)


def _sim_leaf_score(similarity: str, weight_expr: str, freq_expr: str,
                    dl_expr: str, k1: float, b: float) -> str:
    if similarity == "bm25":
        return _leaf_score(weight_expr, freq_expr, dl_expr, k1, b)
    if similarity == "classic":
        return _classic_leaf_score(weight_expr, freq_expr, dl_expr)
    if similarity == "sweetspot":
        return _sweetspot_leaf_score(weight_expr, freq_expr, dl_expr)
    if similarity == "sweetspot_hyper":
        return _sweetspot_hyper_leaf_score(weight_expr, freq_expr, dl_expr)
    if similarity == "boolean":
        # BooleanSimilarity.java:52-55 — score == boost; idf below is 1
        return f"CAST({weight_expr} AS REAL)"
    if similarity in STATS_SIMS:
        return _stats_sim_leaf_score(similarity, freq_expr, dl_expr)
    raise ValueError(f"unknown similarity {similarity!r}")


def _sim_idf_expr(similarity: str) -> str:
    if similarity == "bm25":
        return _idf_expr()
    if similarity in ("classic", "sweetspot", "sweetspot_hyper"):
        return _classic_idf_expr()
    if similarity == "boolean":
        return "CAST(1 AS REAL)"
    if similarity in STATS_SIMS:
        return "CAST(1 AS REAL)"  # stats sims score from cl.df/cl.ttf
    raise ValueError(f"unknown similarity {similarity!r}")


def _flat_clauses(q: Query) -> tuple[list[tuple[int, str, str, float]], int]:
    """(clause_id, kind, term, boost) list + min_should_match; raises on
    non-flat input (nested booleans not SQL-compiled)."""
    q = rewrite_fixpoint(q)
    if isinstance(q, (TermQuery, BoostQuery)):
        q = BooleanQuery(must=[q])
    if not isinstance(q, BooleanQuery):
        raise ValueError(f"cannot compile {type(q).__name__}")
    clauses = []
    cid = 0
    for kind, group in (
        ("must", q.must), ("should", q.should),
        ("filter", q.filter), ("must_not", q.must_not),
    ):
        for c in group:
            boost = 1.0
            if isinstance(c, BoostQuery):
                boost, c = float(c.boost), c.query
            if not isinstance(c, TermQuery):
                raise ValueError("only flat term clauses are SQL-compiled")
            clauses.append((cid, kind, c.term, boost))
            cid += 1
    return clauses, q.min_should_match


def topk_sql(
    q: Query,
    k: int,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    stop: tuple[str, ...] = (),
    k1: float = 1.2,
    b: float = 0.75,
    similarity: str = "bm25",
    vocab_map: tuple[tuple[str, str], ...] = (),
    synonyms: tuple[tuple[str, str], ...] = (),
    corpus_override: str | None = None,
    drop_where: str = "",
) -> str:
    """Full top-k SQL for a flat Boolean query: (doc_id, score REAL),
    score desc / doc_id asc, LIMIT k. ``stop`` replays a stop-filtered
    analysis chain (see corpus_ctes); ``vocab_map`` a post-stop vocabulary
    transform (Porter stem); ``k1``/``b`` the BM25Similarity constructor
    parameters; ``similarity`` selects the scoring twin
    ("bm25" | "classic" | "boolean" — the pluggable-Similarity surface)."""
    clauses, msm = _flat_clauses(q)
    n_must = sum(1 for c in clauses if c[1] == "must")
    n_filter = sum(1 for c in clauses if c[1] == "filter")
    values = ", ".join(
        f"({cid}, '{kind}', '{term}', CAST({boost} AS REAL))"
        for cid, kind, term, boost in clauses
    )
    if n_must + n_filter == 0:
        msm_cond = f"should_n >= {max(msm, 1)}"
    elif msm > 0:
        msm_cond = f"should_n >= {msm}"
    else:
        msm_cond = "TRUE"
    # final combination mirrors the engine's local.combine_clauses (the scorer
    # tree's float boundaries: ConjunctionScorer / DisjunctionSumScorer /
    # ReqOptSumScorer.java:242-258 / WAND-under-conjunction)
    n_should = sum(1 for c in clauses if c[1] == "should")
    if n_should == 0:
        final = "CAST(coalesce(must_s, 0) AS REAL)"
    elif n_must == 0:
        final = "CAST(coalesce(should_s, 0) AS REAL)"
    elif msm > 0:
        final = ("CAST(must_s + CAST(CAST(coalesce(should_s, 0) AS REAL) AS DOUBLE)"
                 " AS REAL)")
    else:
        final = ("CAST(CAST(CAST(coalesce(must_s, 0) AS REAL) AS DOUBLE)"
                 " + CAST(CAST(coalesce(should_s, 0) AS REAL) AS DOUBLE) AS REAL)")
    score = _sim_leaf_score(
        similarity, "(cl.boost * ldf.idf)", "tf.freq", "dl.dl", k1, b
    )
    return f"""
WITH {corpus_override or corpus_ctes(table, id_col, text_col, stop, vocab_map, synonyms, drop_where)},
consts AS (
  SELECT CAST(st.sttf / CAST(st.dc AS DOUBLE) AS REAL) AS avgdl, st.dc AS dc,
         st.sttf AS sttf, st.sttf / CAST(st.dc AS DOUBLE) AS avgfl_d FROM st
),
clauses(clause_id, kind, term, boost) AS (VALUES {values}),
leaf_df AS (
  SELECT cl.clause_id, cl.kind, cl.term, cl.boost,
         {_sim_idf_expr(similarity).replace('ldf.df', 'coalesce(df.df, 0)')} AS idf,
         coalesce(df.df, 0) AS df, coalesce(tt.ttf, 0) AS ttf
  FROM clauses cl LEFT JOIN df ON df.term = cl.term
  LEFT JOIN (SELECT term, CAST(sum(freq) AS BIGINT) AS ttf
             FROM tf GROUP BY term) tt ON tt.term = cl.term, consts c
),
scored AS (
  SELECT tf.doc_id, cl.clause_id, cl.kind,
         {score.replace('ldf.idf', 'cl.idf')} AS score
  FROM tf
  JOIN (SELECT clause_id, kind, term, boost, idf, df, ttf FROM leaf_df) cl
    ON cl.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id, consts c
),
agg AS (
  SELECT doc_id,
    sum(CASE WHEN kind = 'must' THEN CAST(score AS DOUBLE) END) AS must_s,
    count(CASE WHEN kind = 'must' THEN 1 END) AS must_n,
    sum(CASE WHEN kind = 'should' THEN CAST(score AS DOUBLE) END) AS should_s,
    count(CASE WHEN kind = 'should' THEN 1 END) AS should_n,
    count(CASE WHEN kind = 'filter' THEN 1 END) AS filter_n,
    count(CASE WHEN kind = 'must_not' THEN 1 END) AS not_n
  FROM scored GROUP BY doc_id
)
SELECT doc_id, {final} AS score
FROM agg
WHERE must_n = {n_must} AND filter_n = {n_filter} AND not_n = 0 AND {msm_cond}
ORDER BY score DESC, doc_id ASC
LIMIT {k}
""".strip()


def should_sum_sql(children: list[str], k: int) -> str:
    """Pure-disjunction combiner over complete child SELECTs: each child
    is any generator's full top-k statement (its trailing ORDER BY/LIMIT
    is stripped so EVERY matching doc flows through); score = the
    engine's SHOULD fold — per-child float32 scores summed in DOUBLE,
    one final REAL cast (DisjunctionSumScorer boundaries). Used for
    parser-produced nested trees (e.g. SimpleQueryParser's right-leaning
    ``a + b | "p q" | pre*`` shape) whose children the existing
    generators already score exactly."""
    stripped = [c[: c.rindex("ORDER BY")].strip() for c in children]
    ctes = ",\n".join(
        f"c{i} AS (\n{sql}\n)" for i, sql in enumerate(stripped))
    union = " UNION ".join(
        f"SELECT doc_id FROM c{i}" for i in range(len(children)))
    joins = "".join(
        f" LEFT JOIN c{i} ON c{i}.doc_id = u.doc_id"
        for i in range(len(children)))
    total = " + ".join(
        f"coalesce(CAST(c{i}.score AS DOUBLE), 0)"
        for i in range(len(children)))
    return f"""
WITH {ctes},
u AS ({union})
SELECT u.doc_id AS doc_id, CAST({total} AS REAL) AS score
FROM u{joins}
ORDER BY score DESC, doc_id ASC
LIMIT {k}
""".strip()


def must_sum_sql(children: list[str], k: int) -> str:
    """Pure-conjunction combiner over complete child SELECTs (trailing
    ORDER BY/LIMIT stripped): docs present in EVERY child; score = the
    engine's MUST fold — per-child float32 scores summed in DOUBLE, one
    final REAL cast (ConjunctionScorer boundaries)."""
    stripped = [c[: c.rindex("ORDER BY")].strip() for c in children]
    ctes = ",\n".join(
        f"c{i} AS (\n{sql}\n)" for i, sql in enumerate(stripped))
    joins = "".join(
        f" JOIN c{i} ON c{i}.doc_id = c0.doc_id"
        for i in range(1, len(children)))
    total = " + ".join(
        f"CAST(c{i}.score AS DOUBLE)" for i in range(len(children)))
    return f"""
WITH {ctes}
SELECT c0.doc_id AS doc_id, CAST({total} AS REAL) AS score
FROM c0{joins}
ORDER BY score DESC, doc_id ASC
LIMIT {k}
""".strip()


def covering_topk_sql(terms: tuple[str, ...], k: int, min_match_sql: str,
                      table: str = "documents", id_col: str = "doc_id",
                      text_col: str = "text") -> str:
    """CoveringQuery twin (sandbox/search/CoveringQuery.java +
    CoveringScorer.java:99-216): term clauses match independently; a doc
    matches iff its clause count >= max(1, ``min_match_sql``) — a per-doc
    expression over ``doc_id`` (the LongValuesSource analog; NULL = never
    matches, via SQL NULL comparison); score = double-sum of matching
    clause scores cast REAL."""
    values = ", ".join(
        f"({cid}, '{t}', CAST(1.0 AS REAL))" for cid, t in enumerate(terms))
    score = _leaf_score("(cl.boost * cl.idf)", "tf.freq", "dl.dl", 1.2, 0.75)
    return f"""
WITH {corpus_ctes(table, id_col, text_col, (), ())},
consts AS (
  SELECT CAST(st.sttf / CAST(st.dc AS DOUBLE) AS REAL) AS avgdl, st.dc AS dc FROM st
),
clauses(clause_id, term, boost) AS (VALUES {values}),
leaf_df AS (
  SELECT cl.clause_id, cl.term, cl.boost,
         {_idf_expr().replace('ldf.df', 'coalesce(df.df, 0)')} AS idf
  FROM clauses cl LEFT JOIN df ON df.term = cl.term, consts c
),
scored AS (
  SELECT tf.doc_id, cl.clause_id, {score} AS score
  FROM tf
  JOIN leaf_df cl ON cl.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id, consts c
),
agg AS (
  SELECT doc_id, sum(CAST(score AS DOUBLE)) AS s, count(*) AS n
  FROM scored GROUP BY doc_id
)
SELECT doc_id, CAST(s AS REAL) AS score
FROM agg
WHERE n >= CASE WHEN ({min_match_sql}) IS NULL THEN NULL
            ELSE greatest(CAST({min_match_sql} AS BIGINT), 1) END
ORDER BY score DESC, doc_id ASC
LIMIT {k}
""".strip()


def diversified_topk_sql(q: Query, k: int, key_sql: str, max_per_key: int,
                         table: str = "documents", id_col: str = "doc_id",
                         text_col: str = "text") -> str:
    """DiversifiedTopDocsCollector twin
    (misc/search/DiversifiedTopDocsCollector.java:55-150): rank the
    query's hits (score desc, doc asc) within each ``key_sql`` group
    (NULL/missing keys map to key 0, :141-146), keep ranks <=
    max_per_key, global top-k."""
    base = topk_sql(q, 1 << 31, table, id_col, text_col)
    base = base[: base.rindex("LIMIT")].strip()
    return f"""
WITH hits AS (
{base}
),
keyed AS (
  SELECT doc_id, score,
         coalesce(CAST({key_sql} AS BIGINT), 0) AS div_key FROM hits
),
ranked AS (
  SELECT doc_id, score,
         row_number() OVER (PARTITION BY div_key
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM keyed
)
SELECT doc_id, score FROM ranked
WHERE rn <= {max_per_key}
ORDER BY score DESC, doc_id ASC
LIMIT {k}
""".strip()


def auto_stop_topk_sql(terms: tuple[str, ...], k: int,
                       max_percent_docs: float = 0.4,
                       table: str = "documents", id_col: str = "doc_id",
                       text_col: str = "text") -> str:
    """Top-k for a pure-disjunction query under QueryAutoStopWordAnalyzer
    (query/QueryAutoStopWordAnalyzer.java:50-140): clauses whose term's
    doc_freq exceeds ``int(num_docs * max_percent_docs)`` are dropped
    BEFORE scoring. The stop set is derived IN SQL from the same corpus —
    an independent replay of the engine's ``IndexSearcher.auto_stop_set``
    — so the oracle does not trust the engine's threshold arithmetic."""
    values = ", ".join(
        f"({cid}, '{t}', CAST(1 AS REAL))" for cid, t in enumerate(terms))
    score = _leaf_score("(cl.boost * cl.idf)", "tf.freq", "dl.dl")
    return f"""
WITH {corpus_ctes(table, id_col, text_col)},
consts AS (
  SELECT CAST(st.sttf / CAST(st.dc AS DOUBLE) AS REAL) AS avgdl, st.dc AS dc FROM st
),
clauses(clause_id, term, boost) AS (VALUES {values}),
live AS (
  SELECT cl.* FROM clauses cl, consts c
  WHERE cl.term NOT IN (
    SELECT df.term FROM df, consts c2
    WHERE df.df > CAST(floor(c2.dc * {max_percent_docs!r}) AS BIGINT))
),
leaf_df AS (
  SELECT cl.clause_id, cl.term, cl.boost,
         {_idf_expr().replace('ldf.df', 'coalesce(df.df, 0)')} AS idf
  FROM live cl LEFT JOIN df ON df.term = cl.term, consts c
),
scored AS (
  SELECT tf.doc_id, cl.clause_id, {score} AS score
  FROM tf
  JOIN leaf_df cl ON cl.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id, consts c
),
agg AS (
  SELECT doc_id, sum(CAST(score AS DOUBLE)) AS should_s,
         count(*) AS should_n
  FROM scored GROUP BY doc_id
)
SELECT doc_id, CAST(coalesce(should_s, 0) AS REAL) AS score
FROM agg
WHERE should_n >= 1
ORDER BY score DESC, doc_id ASC
LIMIT {k}
""".strip()


def common_terms_topk_sql(terms: tuple[str, ...], k: int,
                          max_term_frequency: float,
                          table: str = "documents", id_col: str = "doc_id",
                          text_col: str = "text") -> str:
    """Top-k for CommonTermsQuery (queries/CommonTermsQuery.java:145-205)
    in the default SHOULD/SHOULD configuration with boosts 1: terms whose
    df exceeds ``(int) ceil(maxTermFrequency * (float) maxDoc)`` (float32
    product replayed) form the optional high-frequency group, the rest
    the required low-frequency group; a doc matches when >= 1 low term
    matches, scored ``f32(f64(f32(low_sum)) + f64(f32(high_sum)))`` —
    the group-boundary casts of the engine's scorer tree, valid for both
    the flattened single-low plan and the nested multi-low plan. The
    classification is derived IN SQL — independent of the engine's
    ``common_terms_query`` rewrite. Assumes >= 1 term classifies low on
    the target corpus (the all-high conjunction rewrite is pinned in
    pytest instead)."""
    values = ", ".join(
        f"({cid}, '{t}', CAST(1 AS REAL))" for cid, t in enumerate(terms))
    score = _leaf_score("(cl.boost * cl.idf)", "tf.freq", "dl.dl")
    return f"""
WITH {corpus_ctes(table, id_col, text_col)},
consts AS (
  SELECT CAST(st.sttf / CAST(st.dc AS DOUBLE) AS REAL) AS avgdl, st.dc AS dc FROM st
),
thr AS (
  SELECT CAST(ceil(CAST(CAST({max_term_frequency!r} AS REAL)
                        * CAST(c.dc AS REAL) AS DOUBLE)) AS BIGINT) AS t
  FROM consts c
),
clauses(clause_id, term, boost) AS (VALUES {values}),
classified AS (
  SELECT cl.clause_id, cl.term, cl.boost,
         CASE WHEN df.df IS NOT NULL AND df.df > thr.t
              THEN 'high' ELSE 'low' END AS grp,
         coalesce(df.df, 0) AS df
  FROM clauses cl LEFT JOIN df ON df.term = cl.term, thr
),
leaf_df AS (
  SELECT cl.clause_id, cl.term, cl.boost, cl.grp,
         {_idf_expr().replace('ldf.df', 'cl.df')} AS idf
  FROM classified cl, consts c
),
scored AS (
  SELECT tf.doc_id, cl.clause_id, cl.grp, {score.replace('ldf.idf', 'cl.idf')} AS score
  FROM tf
  JOIN leaf_df cl ON cl.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id, consts c
),
agg AS (
  SELECT doc_id,
    sum(CASE WHEN grp = 'low' THEN CAST(score AS DOUBLE) END) AS low_s,
    count(CASE WHEN grp = 'low' THEN 1 END) AS low_n,
    sum(CASE WHEN grp = 'high' THEN CAST(score AS DOUBLE) END) AS high_s,
    count(CASE WHEN grp = 'high' THEN 1 END) AS high_n
  FROM scored GROUP BY doc_id
)
SELECT doc_id,
       CAST(CAST(CAST(coalesce(low_s, 0) AS REAL) AS DOUBLE)
            + CAST(CAST(coalesce(high_s, 0) AS REAL) AS DOUBLE) AS REAL) AS score
FROM agg
WHERE low_n >= 1
ORDER BY score DESC, doc_id ASC
LIMIT {k}
""".strip()


def prefix_topk_sql(prefix: str, k: int, table: str = "documents",
                    id_col: str = "doc_id", text_col: str = "text") -> str:
    """Top-k for a PrefixQuery (MultiTermQuery SHOULD-expansion)."""
    return expansion_topk_sql(f"term LIKE '{prefix}%'", k, table, id_col, text_col)


def expansion_topk_sql(
    term_cond_sql: str,
    k: int,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Top-k for any term-dictionary expansion (prefix/wildcard/range/in-set):
    dynamic OR over terms matching ``term_cond_sql`` (pure disjunction,
    msm=1), per-term idf — the MultiTermQuery rewrite framework twin."""
    score = _leaf_score("ldf.idf", "tf.freq", "dl.dl")
    return f"""
WITH {corpus_ctes(table, id_col, text_col)},
consts AS (
  SELECT CAST(st.sttf / CAST(st.dc AS DOUBLE) AS REAL) AS avgdl, st.dc AS dc FROM st
),
ldf AS (
  SELECT term, df, {_idf_expr()} AS idf FROM df ldf, consts c
  WHERE {term_cond_sql}
),
scored AS (
  SELECT tf.doc_id, {score} AS score
  FROM tf JOIN ldf ON ldf.term = tf.term JOIN dl ON dl.doc_id = tf.doc_id, consts c
)
SELECT doc_id, CAST(sum(CAST(score AS DOUBLE)) AS REAL) AS score
FROM scored GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
""".strip()


def phrase_topk_sql(
    terms: list[str],
    k: int,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Top-k for an exact-adjacency PhraseQuery: phrase freq by scanning the
    token array for consecutive matches; idf = REAL cast of the DOUBLE sum
    of per-term REAL idfs (BM25Similarity.java:161-170)."""
    L = len(terms)
    conds = " AND ".join(
        f"toks[i + {j}] = '{t}'" for j, t in enumerate(terms)
    )
    df_joins = ", ".join(
        f"(SELECT coalesce(max(df), 0) AS df FROM df WHERE term = '{t}') d{j}"
        for j, t in enumerate(terms)
    )
    idf_sum = " + ".join(
        f"CAST(CAST(ln(1 + (c.dc - d{j}.df + 0.5) / (d{j}.df + 0.5)) AS REAL) AS DOUBLE)"
        for j in range(L)
    )
    score = _leaf_score("w.v", "pf.freq", "dl.dl")
    return f"""
WITH {corpus_ctes(table, id_col, text_col)},
consts AS (
  SELECT CAST(st.sttf / CAST(st.dc AS DOUBLE) AS REAL) AS avgdl, st.dc AS dc FROM st
),
tokarr AS (
  SELECT {id_col} AS doc_id, {TOKEN_SQL.format(col=text_col)} AS toks FROM {table}
),
pf AS (
  SELECT doc_id,
         len(list_filter(range(1, greatest(len(toks) - {L} + 2, 1)),
                         i -> {conds})) AS freq
  FROM tokarr
),
w AS (
  SELECT CAST({idf_sum} AS REAL) AS v FROM consts c, {df_joins}
)
SELECT pf.doc_id AS doc_id, CAST({score} AS REAL) AS score
FROM pf JOIN dl ON dl.doc_id = pf.doc_id, consts c, w
WHERE pf.freq > 0
ORDER BY score DESC, doc_id ASC
LIMIT {k}
""".strip()


def sloppy_phrase_topk_sql(
    terms: list[str],
    slop: int,
    k: int,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Two-term sloppy phrase twin with the reference's FULL
    SloppyPhraseMatcher semantics (reordering allowed — "b a"~2 matches
    "a b"): the PhrasePositions queue walk is replayed as a RECURSIVE CTE.
    REPEATED terms are rejected: the engine's repeat-group collision rule
    (advanceRpts — both slots must sit on distinct raw positions) is not
    replayed by this walk, and silently diverging is worse than raising.
    Per doc, slot streams are the offset-ADJUSTED sorted position lists
    (la = positions of term0, lb = positions of term1 minus 1); the walk
    advances the smaller stream, minimizing matchLength = end - min, and
    every overtake (and exhaustion) emits 1/(1+matchLength) when <= slop.
    Emission order is the engine's, so the float64 freq accumulates
    bit-identically. Same idf/weight as the exact phrase."""
    if len(terms) != 2:
        raise ValueError("SQL twin implemented for 2-term sloppy phrases")
    if terms[0] == terms[1]:
        raise ValueError(
            "repeated-term sloppy phrases are not replayed by this twin "
            "(the engine's repeat-group collision rule differs)")
    t0, t1 = terms
    df_joins = ", ".join(
        f"(SELECT coalesce(max(df), 0) AS df FROM df WHERE term = '{t}') d{j}"
        for j, t in enumerate(terms)
    )
    idf_sum = " + ".join(
        f"CAST(CAST(ln(1 + (c.dc - d{j}.df + 0.5) / (d{j}.df + 0.5)) AS REAL) AS DOUBLE)"
        for j in range(2)
    )
    score = _leaf_score("w.v", "pf.freq", "dl.dl")
    emit = f"CASE WHEN ml <= {slop} THEN 1.0 / (1.0 + ml) ELSE 0.0 END"
    return f"""
WITH RECURSIVE {corpus_ctes(table, id_col, text_col)},
consts AS (
  SELECT CAST(st.sttf / CAST(st.dc AS DOUBLE) AS REAL) AS avgdl, st.dc AS dc FROM st
),
tokarr AS (
  SELECT {id_col} AS doc_id, {TOKEN_SQL.format(col=text_col)} AS toks FROM {table}
),
pos AS (
  SELECT doc_id, unnest(toks) AS term, unnest(range(len(toks))) AS p FROM tokarr
),
streams AS (
  SELECT a.doc_id, a.ps AS la, b.ps AS lb
  FROM (SELECT doc_id, list_sort(list(p)) AS ps
        FROM pos WHERE term = '{t0}' GROUP BY doc_id) a
  JOIN (SELECT doc_id, list_sort(list(p - 1)) AS ps
        FROM pos WHERE term = '{t1}' GROUP BY doc_id) b
  USING (doc_id)
),
walk AS (
  SELECT doc_id, la, lb, 1 AS ai, 1 AS bi,
         CASE WHEN la[1] <= lb[1] THEN 0 ELSE 1 END AS act,
         greatest(la[1], lb[1]) AS end_,
         greatest(la[1], lb[1]) - least(la[1], lb[1]) AS ml,
         CAST(0 AS DOUBLE) AS freq, FALSE AS done
  FROM streams
  UNION ALL
  SELECT doc_id, la, lb,
         CASE WHEN exhausted THEN ai
              WHEN act = 0 THEN ai + 1 ELSE ai END AS ai,
         CASE WHEN exhausted THEN bi
              WHEN act = 1 THEN bi + 1 ELSE bi END AS bi,
         CASE WHEN exhausted THEN act
              WHEN p > nxt THEN 1 - act ELSE act END AS act,
         CASE WHEN exhausted THEN end_ ELSE greatest(end_, p) END AS end_,
         CASE WHEN exhausted THEN ml
              WHEN p > nxt THEN greatest(end_, p) - nxt
              ELSE least(ml, greatest(end_, p) - p) END AS ml,
         CASE WHEN exhausted OR p > nxt THEN freq + {emit}
              ELSE freq END AS freq,
         exhausted AS done
  FROM (
    SELECT *,
           (CASE WHEN act = 0 THEN ai + 1 > len(la)
                 ELSE bi + 1 > len(lb) END) AS exhausted,
           (CASE WHEN act = 0 THEN la[ai + 1] ELSE lb[bi + 1] END) AS p,
           (CASE WHEN act = 0 THEN lb[bi] ELSE la[ai] END) AS nxt
    FROM walk WHERE NOT done
  )
),
pf AS (
  SELECT doc_id, freq FROM walk WHERE done
),
w AS (
  SELECT CAST({idf_sum} AS REAL) AS v FROM consts c, {df_joins}
)
SELECT pf.doc_id AS doc_id, CAST({score} AS REAL) AS score
FROM pf JOIN dl ON dl.doc_id = pf.doc_id, consts c, w
WHERE pf.freq > 0
ORDER BY score DESC, doc_id ASC
LIMIT {k}
""".strip()


def span_near_unordered_sql(
    terms: list[str],
    slop: int,
    k: int,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Two-term UNORDERED span-near twin (nearest-occurrence semantics, see
    SpanNearQuery AST docstring): for each occurrence of term0, d = distance
    to the nearest term1 occurrence; match when d-1 <= slop with weight
    1/(1+(d-1)). Same idf/weight as the phrase family."""
    if len(terms) != 2:
        raise ValueError("SQL twin implemented for 2-term span_near")
    t0, t1 = terms
    df_joins = ", ".join(
        f"(SELECT coalesce(max(df), 0) AS df FROM df WHERE term = '{t}') d{j}"
        for j, t in enumerate(terms)
    )
    idf_sum = " + ".join(
        f"CAST(CAST(ln(1 + (c.dc - d{j}.df + 0.5) / (d{j}.df + 0.5)) AS REAL) AS DOUBLE)"
        for j in range(2)
    )
    score = _leaf_score("w.v", "pf.freq", "dl.dl")
    return f"""
WITH {corpus_ctes(table, id_col, text_col)},
consts AS (
  SELECT CAST(st.sttf / CAST(st.dc AS DOUBLE) AS REAL) AS avgdl, st.dc AS dc FROM st
),
tokarr AS (
  SELECT {id_col} AS doc_id, {TOKEN_SQL.format(col=text_col)} AS toks FROM {table}
),
pos AS (
  SELECT doc_id, unnest(toks) AS term, unnest(range(len(toks))) AS p FROM tokarr
),
nearest AS (
  SELECT a.doc_id, a.p AS pa, min(abs(b.p - a.p)) AS d
  FROM (SELECT doc_id, p FROM pos WHERE term = '{t0}') a
  JOIN (SELECT doc_id, p FROM pos WHERE term = '{t1}') b
    ON b.doc_id = a.doc_id
  GROUP BY a.doc_id, a.p
),
pf AS (
  SELECT doc_id,
         sum(CASE WHEN d - 1 <= {slop} THEN 1.0 / (1.0 + (d - 1)) END) AS freq
  FROM nearest GROUP BY doc_id
),
w AS (
  SELECT CAST({idf_sum} AS REAL) AS v FROM consts c, {df_joins}
)
SELECT pf.doc_id AS doc_id, CAST({score} AS REAL) AS score
FROM pf JOIN dl ON dl.doc_id = pf.doc_id, consts c, w
WHERE pf.freq > 0
ORDER BY score DESC, doc_id ASC
LIMIT {k}
""".strip()


def multi_phrase_topk_sql(
    slots: list[list[str]],
    k: int,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """MultiPhraseQuery twin: slot i matches any of its terms; idf = REAL
    cast of the DOUBLE sum over ALL existing terms, slot-then-term order
    (absent terms contribute 0 = skipped, MultiPhraseQuery.java:219-238)."""
    L = len(slots)
    conds = " AND ".join(
        "toks[i + {j}] IN ({alts})".format(
            j=j, alts=", ".join(f"'{t}'" for t in sl)
        )
        for j, sl in enumerate(slots)
    )
    idf_terms = []
    for sl in slots:
        for t in sl:
            idf_terms.append(
                "coalesce((SELECT CAST(CAST(ln(1 + (c.dc - df.df + 0.5) / (df.df + 0.5)) AS REAL) AS DOUBLE)"
                f" FROM df WHERE df.term = '{t}'), 0)"
            )
    idf_sum = " + ".join(idf_terms)
    score = _leaf_score("w.v", "pf.freq", "dl.dl")
    return f"""
WITH {corpus_ctes(table, id_col, text_col)},
consts AS (
  SELECT CAST(st.sttf / CAST(st.dc AS DOUBLE) AS REAL) AS avgdl, st.dc AS dc FROM st
),
tokarr AS (
  SELECT {id_col} AS doc_id, {TOKEN_SQL.format(col=text_col)} AS toks FROM {table}
),
pf AS (
  SELECT doc_id,
         len(list_filter(range(1, greatest(len(toks) - {L} + 2, 1)),
                         i -> {conds})) AS freq
  FROM tokarr
),
w AS (
  SELECT CAST({idf_sum} AS REAL) AS v FROM consts c
)
SELECT pf.doc_id AS doc_id, CAST({score} AS REAL) AS score
FROM pf JOIN dl ON dl.doc_id = pf.doc_id, consts c, w
WHERE pf.freq > 0
ORDER BY score DESC, doc_id ASC
LIMIT {k}
""".strip()


def phrase_wildcard_topk_sql(
    slots: list,
    k: int,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """PhraseWildcardQuery twin (sandbox/search/PhraseWildcardQuery.java):
    like multi_phrase_topk_sql, but a slot may be ("like", pattern) — its
    term set is derived from the corpus vocabulary IN SQL (the engine
    expands the same set from term_dict when the expansion budget is not
    exceeded). idf = REAL cast of the DOUBLE sum over all collected terms
    (order-exact for these few-dozen f32 addends). Literal slots are
    ("terms", [t, ...])."""
    L = len(slots)
    conds = []
    idf_terms = []
    mt_ctes = []
    mt_from = ""
    one_idf = ("CAST(CAST(ln(1 + (c.dc - df.df + 0.5) / (df.df + 0.5))"
               " AS REAL) AS DOUBLE)")
    for j, (kind, payload) in enumerate(slots):
        if kind == "terms":
            alts = ", ".join(f"'{t}'" for t in payload)
            conds.append(f"toks[i + {j}] IN ({alts})")
            for t in payload:
                idf_terms.append(
                    f"coalesce((SELECT {one_idf} FROM df, consts c"
                    f" WHERE df.term = '{t}'), 0)")
        elif kind == "like":
            # DuckDB forbids subqueries inside lambdas: materialize the
            # matching vocabulary as a LIST and probe it per position.
            mt_ctes.append(
                f"mt{j} AS (SELECT list(term) AS ts FROM df"
                f" WHERE term LIKE '{payload}')")
            mt_from += f", mt{j}"
            conds.append(f"list_contains(mt{j}.ts, toks[i + {j}])")
            idf_terms.append(
                f"coalesce((SELECT sum({one_idf}) FROM df, consts c"
                f" WHERE df.term LIKE '{payload}'), 0)")
        else:
            raise ValueError(f"unknown slot kind {kind!r}")
    cond = " AND ".join(conds)
    idf_sum = " + ".join(idf_terms)
    mt_block = ",\n".join(mt_ctes)
    if mt_block:
        mt_block += ",\n"
    score = _leaf_score("w.v", "pf.freq", "dl.dl")
    return f"""
WITH {corpus_ctes(table, id_col, text_col)},
consts AS (
  SELECT CAST(st.sttf / CAST(st.dc AS DOUBLE) AS REAL) AS avgdl, st.dc AS dc FROM st
),
{mt_block}tokarr AS (
  SELECT {id_col} AS doc_id, {TOKEN_SQL.format(col=text_col)} AS toks FROM {table}
),
pf AS (
  SELECT doc_id,
         len(list_filter(range(1, greatest(len(toks) - {L} + 2, 1)),
                         i -> {cond})) AS freq
  FROM tokarr{mt_from}
),
w AS (
  SELECT CAST({idf_sum} AS REAL) AS v
)
SELECT pf.doc_id AS doc_id, CAST({score} AS REAL) AS score
FROM pf JOIN dl ON dl.doc_id = pf.doc_id, consts c, w
WHERE pf.freq > 0
ORDER BY score DESC, doc_id ASC
LIMIT {k}
""".strip()


def term_automaton_topk_sql(
    arcs: list,
    anyarcs: list,
    accepts: list,
    idf_terms: list,
    k: int,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """TermAutomatonQuery twin (``sandbox/search/TermAutomatonScorer
    .java:215-340``): path-counting DFA simulation as a RECURSIVE CTE —
    one row per det-level path prefix; freq = rows landing on an accept
    state (accepts are only reachable by token steps, so every accept row
    IS an accept event). The transition tables come from the engine's
    determinized automaton (``TermAutomaton.arc_rows()``) — the DFA is
    part of the query specification, like the analyzer constants other
    oracles embed; EXECUTION is independent (DuckDB walks the raw token
    stream). A registered-term position steps BOTH by its term arc and by
    the ANY arc (the scorer's ANY-advance fork); an unregistered position
    steps by ANY only — the ``s.lbl IS NULL OR s.lbl = t.term`` join
    replays exactly that. idf = f32(double sum over registered terms with
    df > 0, registration order).

    ``arcs``: (src, term, dest) token steps; ``anyarcs``: (src, dest);
    ``accepts``: accept state ids; ``idf_terms``: registered terms."""
    one_idf = ("CAST(CAST(ln(1 + (c.dc - df.df + 0.5) / (df.df + 0.5))"
               " AS REAL) AS DOUBLE)")
    idf_sum = " + ".join(
        f"coalesce((SELECT {one_idf} FROM df, consts c"
        f" WHERE df.term = '{t}'), 0)"
        for t in idf_terms
    )
    step_rows = [f"({s}, '{t}', {d})" for s, t, d in arcs]
    step_rows += [f"({s}, CAST(NULL AS VARCHAR), {d})" for s, d in anyarcs]
    steps_values = ", ".join(step_rows)
    accept_list = ", ".join(str(a) for a in accepts)
    init = ", ".join(f"('{t}', {d})" for s, t, d in arcs if s == 0)
    score = _leaf_score("w.v", "pf.freq", "dl.dl")
    return f"""
WITH RECURSIVE {corpus_ctes(table, id_col, text_col)},
consts AS (
  SELECT CAST(st.sttf / CAST(st.dc AS DOUBLE) AS REAL) AS avgdl, st.dc AS dc FROM st
),
tokarr AS (
  SELECT {id_col} AS doc_id, {TOKEN_SQL.format(col=text_col)} AS toks FROM {table}
),
tokpos AS (
  SELECT doc_id, unnest(toks) AS term, unnest(range(1, len(toks) + 1)) AS ord
  FROM tokarr
),
steps(src, lbl, dest) AS (SELECT * FROM (VALUES {steps_values}) v),
paths AS (
  SELECT t.doc_id, t.ord, i.dest AS state
  FROM tokpos t JOIN (VALUES {init}) i(lbl, dest) ON i.lbl = t.term
  UNION ALL
  SELECT p.doc_id, t.ord, s.dest AS state
  FROM paths p
  JOIN tokpos t ON t.doc_id = p.doc_id AND t.ord = p.ord + 1
  JOIN steps s ON s.src = p.state AND (s.lbl IS NULL OR s.lbl = t.term)
),
pf AS (
  SELECT doc_id, CAST(count(*) AS DOUBLE) AS freq
  FROM paths WHERE state IN ({accept_list})
  GROUP BY doc_id
),
w AS (
  SELECT CAST({idf_sum} AS REAL) AS v
)
SELECT pf.doc_id AS doc_id, CAST({score} AS REAL) AS score
FROM pf JOIN dl ON dl.doc_id = pf.doc_id, consts c, w
WHERE pf.freq > 0
ORDER BY score DESC, doc_id ASC
LIMIT {k}
""".strip()


def synonym_topk_sql(
    terms: list[str],
    k: int,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """SynonymQuery twin: freq = per-doc sum over terms, idf from blended
    doc_freq = max over terms (SynonymQuery.java:211-228)."""
    inlist = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    score = _leaf_score("w.v", "sf.freq", "dl.dl")
    return f"""
WITH {corpus_ctes(table, id_col, text_col)},
consts AS (
  SELECT CAST(st.sttf / CAST(st.dc AS DOUBLE) AS REAL) AS avgdl, st.dc AS dc FROM st
),
sf AS (
  SELECT doc_id, CAST(sum(freq) AS BIGINT) AS freq
  FROM tf WHERE term IN ({inlist}) GROUP BY doc_id
),
w AS (
  SELECT CAST(ln(1 + (c.dc - b.df + 0.5) / (b.df + 0.5)) AS REAL) AS v
  FROM consts c, (SELECT max(df) AS df FROM df WHERE term IN ({inlist})) b
)
SELECT sf.doc_id AS doc_id, CAST({score} AS REAL) AS score
FROM sf JOIN dl ON dl.doc_id = sf.doc_id, consts c, w
ORDER BY score DESC, doc_id ASC
LIMIT {k}
""".strip()


def dismax_topk_sql(
    terms: list[str],
    tie_breaker: float,
    k: int,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DisjunctionMaxQuery twin over term disjuncts: per-doc
    max + tieBreaker*(sum - max) of clause scores, DOUBLE accumulate,
    REAL cast (DisjunctionMaxScorer.java:24-27)."""
    inlist = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    score = _leaf_score("ldf.idf", "tf.freq", "dl.dl")
    return f"""
WITH {corpus_ctes(table, id_col, text_col)},
consts AS (
  SELECT CAST(st.sttf / CAST(st.dc AS DOUBLE) AS REAL) AS avgdl, st.dc AS dc FROM st
),
ldf AS (
  SELECT term, df, {_idf_expr()} AS idf FROM df ldf, consts c
  WHERE term IN ({inlist})
),
scored AS (
  SELECT tf.doc_id, {score} AS score
  FROM tf JOIN ldf ON ldf.term = tf.term JOIN dl ON dl.doc_id = tf.doc_id, consts c
)
SELECT doc_id,
       CAST(max(CAST(score AS DOUBLE))
            + {tie_breaker!r} * (sum(CAST(score AS DOUBLE)) - max(CAST(score AS DOUBLE)))
            AS REAL) AS score
FROM scored GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
""".strip()


def blended_topk_sql(
    terms: list[str],
    boosts: list[float] | None,
    tie_breaker: float,
    k: int,
    rewrite: str = "dismax",
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """BlendedTermQuery twin (``BlendedTermQuery.java:282-299``): every
    term's idf uses the BLENDED df = max(df) over the set (absent terms
    contribute nothing to the max, matching term_stats omission), each leaf
    weighted by its per-term boost, then merged by DisMax(tie_breaker)
    (DISJUNCTION_MAX_REWRITE) or a SHOULD-sum (BOOLEAN_REWRITE) — DOUBLE
    accumulate, REAL cast either way."""
    bl = boosts or [1.0] * len(terms)
    vals = ", ".join(
        f"('{t}', CAST({b!r} AS REAL))" for t, b in zip(terms, bl)
    )
    inlist = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    score = _leaf_score("(ldf.boost * ldf.idf)", "tf.freq", "dl.dl")
    if rewrite == "bool":
        combine = "CAST(sum(CAST(score AS DOUBLE)) AS REAL)"
    else:
        combine = (
            "CAST(max(CAST(score AS DOUBLE)) "
            f"+ {tie_breaker!r} * (sum(CAST(score AS DOUBLE)) "
            "- max(CAST(score AS DOUBLE))) AS REAL)"
        )
    return f"""
WITH {corpus_ctes(table, id_col, text_col)},
consts AS (
  SELECT CAST(st.sttf / CAST(st.dc AS DOUBLE) AS REAL) AS avgdl, st.dc AS dc FROM st
),
ldf AS (
  SELECT term, boost, df, {_idf_expr()} AS idf
  FROM (
    SELECT tb.term, tb.boost, b.df
    FROM (VALUES {vals}) tb(term, boost),
         (SELECT max(df) AS df FROM df WHERE term IN ({inlist})) b
  ) ldf, consts c
),
scored AS (
  SELECT tf.doc_id, {score} AS score
  FROM tf JOIN ldf ON ldf.term = tf.term JOIN dl ON dl.doc_id = tf.doc_id, consts c
)
SELECT doc_id, {combine} AS score
FROM scored GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
""".strip()


def delimited_tf_topk_sql(
    term: str,
    k: int,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DelimitedTermFrequencyTokenFilter twin: the corpus is annotated
    token-wise as t|((len(t)%3)+1) (see the entry's synthesis), so the
    oracle recomputes the ANNOTATED index stats directly from the raw
    text — per-(doc, term) freq = SUM of the occurrences' tfs, per-doc
    length = SUM of all tfs (``core/index/IndexingChain.java:1276``),
    collection stats over the tf-weighted lengths — then scores BM25 with
    the shared float32-faithful leaf formula."""
    score = _leaf_score("ldf.idf", "tf.freq", "dl.dl")
    return f"""
WITH occ AS (
  SELECT {id_col} AS doc_id, tok AS term, (length(tok) % 3) + 1 AS tf
  FROM {table}, unnest(regexp_extract_all(lower({text_col}), '[a-z0-9]+')) AS t(tok)
),
tf AS (
  SELECT doc_id, term, CAST(sum(tf) AS BIGINT) AS freq
  FROM occ GROUP BY doc_id, term
),
dl AS (
  SELECT d.{id_col} AS doc_id, CAST(coalesce(o.s, 0) AS BIGINT) AS dl
  FROM {table} d
  LEFT JOIN (SELECT doc_id, sum(tf) AS s FROM occ GROUP BY doc_id) o
    ON o.doc_id = d.{id_col}
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
st AS (
  SELECT (SELECT count(*) FROM {table}) AS dc,
         (SELECT sum(dl) FROM dl) AS sttf
),
consts AS (
  SELECT CAST(st.sttf / CAST(st.dc AS DOUBLE) AS REAL) AS avgdl, st.dc AS dc FROM st
),
ldf AS (
  SELECT term, df, {_idf_expr()} AS idf FROM df ldf, consts c
  WHERE term = '{term}'
)
SELECT tf.doc_id AS doc_id, CAST({score} AS REAL) AS score
FROM tf JOIN ldf ON ldf.term = tf.term JOIN dl ON dl.doc_id = tf.doc_id, consts c
ORDER BY score DESC, doc_id ASC
LIMIT {k}
""".strip()


def fuzzy_topk_sql(
    term: str,
    max_edits: int,
    k: int,
    max_expansions: int = 50,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """FuzzyQuery twin: levenshtein expansion over the vocabulary with the
    engine's boost = 1 - edits/min(len) and the reference's df BLENDING
    (``TopTermsBlendedFreqScoringRewrite``): every expanded term's idf uses
    the max df across the expansion set; scored as a boosted disjunction."""
    score = _leaf_score("(CAST(ldf.boost AS REAL) * ldf.idf)", "tf.freq", "dl.dl")
    return f"""
WITH {corpus_ctes(table, id_col, text_col)},
consts AS (
  SELECT CAST(st.sttf / CAST(st.dc AS DOUBLE) AS REAL) AS avgdl, st.dc AS dc FROM st
),
expansion AS (
  SELECT term, df,
         1.0 - levenshtein(term, '{term}')
               / CAST(least(length(term), {len(term)}) AS DOUBLE) AS boost
  FROM df ldf
  WHERE length(term) BETWEEN {len(term) - max_edits} AND {len(term) + max_edits}
    AND levenshtein(term, '{term}') <= {max_edits}
  ORDER BY boost DESC, term ASC
  LIMIT {max_expansions}
),
ldf AS (
  SELECT term, boost, df, {_idf_expr()} AS idf
  FROM (SELECT term, boost, max(df) OVER () AS df FROM expansion) ldf, consts c
),
scored AS (
  SELECT tf.doc_id, {score} AS score
  FROM tf JOIN ldf ON ldf.term = tf.term JOIN dl ON dl.doc_id = tf.doc_id, consts c
)
SELECT doc_id, CAST(sum(CAST(score AS DOUBLE)) AS REAL) AS score
FROM scored GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
""".strip()


def count_sql(q: Query, table: str = "documents", id_col: str = "doc_id",
              text_col: str = "text") -> str:
    """Hit count of a flat Boolean query (TotalHitCountCollector twin)."""
    clauses, msm = _flat_clauses(q)
    n_must = sum(1 for c in clauses if c[1] == "must")
    n_filter = sum(1 for c in clauses if c[1] == "filter")
    values = ", ".join(
        f"({cid}, '{kind}', '{term}')" for cid, kind, term, _ in clauses
    )
    if n_must + n_filter == 0:
        msm_cond = f"should_n >= {max(msm, 1)}"
    elif msm > 0:
        msm_cond = f"should_n >= {msm}"
    else:
        msm_cond = "TRUE"
    return f"""
WITH {corpus_ctes(table, id_col, text_col)},
clauses(clause_id, kind, term) AS (VALUES {values}),
matched AS (
  SELECT tf.doc_id, cl.kind FROM tf JOIN clauses cl ON cl.term = tf.term
),
agg AS (
  SELECT doc_id,
    count(CASE WHEN kind = 'must' THEN 1 END) AS must_n,
    count(CASE WHEN kind = 'should' THEN 1 END) AS should_n,
    count(CASE WHEN kind = 'filter' THEN 1 END) AS filter_n,
    count(CASE WHEN kind = 'must_not' THEN 1 END) AS not_n
  FROM matched GROUP BY doc_id
)
SELECT CAST(count(*) AS BIGINT) AS hits FROM agg
WHERE must_n = {n_must} AND filter_n = {n_filter} AND not_n = 0 AND {msm_cond}
""".strip()


def facet_ranges_sql(
    q: Query,
    ranges: list[tuple[str, int, int]],
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """LongRangeFacetCounts twin: per-range hit counts of a flat Boolean
    query over the per-doc token count (the engine's field_len), half-open
    [lo, hi) bounds, overlapping ranges each counted."""
    clauses, msm = _flat_clauses(q)
    n_must = sum(1 for c in clauses if c[1] == "must")
    n_filter = sum(1 for c in clauses if c[1] == "filter")
    values = ", ".join(
        f"({cid}, '{kind}', '{term}')" for cid, kind, term, _ in clauses
    )
    if n_must + n_filter == 0:
        msm_cond = f"should_n >= {max(msm, 1)}"
    elif msm > 0:
        msm_cond = f"should_n >= {msm}"
    else:
        msm_cond = "TRUE"
    counts = "\nUNION ALL\n".join(
        f"SELECT '{lbl}' AS label, CAST(count(CASE WHEN dl.dl >= {lo} "
        f"AND dl.dl < {hi} THEN 1 END) AS BIGINT) AS count "
        f"FROM hits JOIN dl ON dl.doc_id = hits.doc_id"
        for lbl, lo, hi in ranges
    )
    return f"""
WITH {corpus_ctes(table, id_col, text_col)},
clauses(clause_id, kind, term) AS (VALUES {values}),
matched AS (
  SELECT tf.doc_id, cl.kind FROM tf JOIN clauses cl ON cl.term = tf.term
),
agg AS (
  SELECT doc_id,
    count(CASE WHEN kind = 'must' THEN 1 END) AS must_n,
    count(CASE WHEN kind = 'should' THEN 1 END) AS should_n,
    count(CASE WHEN kind = 'filter' THEN 1 END) AS filter_n,
    count(CASE WHEN kind = 'must_not' THEN 1 END) AS not_n
  FROM matched GROUP BY doc_id
),
hits AS (
  SELECT doc_id FROM agg
  WHERE must_n = {n_must} AND filter_n = {n_filter} AND not_n = 0 AND {msm_cond}
)
{counts}
""".strip()


def facet_histogram_sql(
    q: Query,
    bucket_width: int,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """HistogramCollector twin: matching-doc counts per
    ``floorDiv(field_len, bucket_width)`` bucket. floorDiv replayed with
    the positive-remainder identity (DuckDB ``%`` also follows the
    dividend's sign), exact because the adjusted numerator is a multiple
    of the width."""
    clauses, msm = _flat_clauses(q)
    n_must = sum(1 for c in clauses if c[1] == "must")
    n_filter = sum(1 for c in clauses if c[1] == "filter")
    values = ", ".join(
        f"({cid}, '{kind}', '{term}')" for cid, kind, term, _ in clauses
    )
    if n_must + n_filter == 0:
        msm_cond = f"should_n >= {max(msm, 1)}"
    elif msm > 0:
        msm_cond = f"should_n >= {msm}"
    else:
        msm_cond = "TRUE"
    w = int(bucket_width)
    return f"""
WITH {corpus_ctes(table, id_col, text_col)},
clauses(clause_id, kind, term) AS (VALUES {values}),
matched AS (
  SELECT tf.doc_id, cl.kind FROM tf JOIN clauses cl ON cl.term = tf.term
),
agg AS (
  SELECT doc_id,
    count(CASE WHEN kind = 'must' THEN 1 END) AS must_n,
    count(CASE WHEN kind = 'should' THEN 1 END) AS should_n,
    count(CASE WHEN kind = 'filter' THEN 1 END) AS filter_n,
    count(CASE WHEN kind = 'must_not' THEN 1 END) AS not_n
  FROM matched GROUP BY doc_id
),
hits AS (
  SELECT doc_id FROM agg
  WHERE must_n = {n_must} AND filter_n = {n_filter} AND not_n = 0 AND {msm_cond}
)
SELECT CAST((dl.dl - ((dl.dl % {w}) + {w}) % {w}) / {w} AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS count
FROM hits JOIN dl ON dl.doc_id = hits.doc_id
GROUP BY 1 ORDER BY bucket
""".strip()


def term_vector_sql(
    orig_doc_id: int,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """TermVectors twin for one doc: (term, freq, positions as a
    space-joined 0-based token-index string), term asc."""
    return f"""
WITH l AS (
  SELECT {TOKEN_SQL.format(col=text_col)} AS toks
  FROM {table} WHERE {id_col} = {orig_doc_id}
),
occ AS (
  SELECT toks[i] AS term, i - 1 AS pos
  FROM l, unnest(range(1, len(toks) + 1)) AS r(i)
)
SELECT term,
       CAST(count(*) AS INT) AS freq,
       array_to_string(list(pos ORDER BY pos), ' ') AS positions
FROM occ GROUP BY term ORDER BY term
""".strip()


def function_score_sql(
    q: Query,
    value: str,
    k: int,
    boost: float = 1.0,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """FunctionScoreQuery twin: re-score a flat Boolean query's matches
    with ``value`` — a SQL expression over ``score`` (the BM25 score) and
    ``field_len`` (per-doc token count) — in DOUBLE, one REAL cast;
    missing/negative factors score 0 (``FunctionScoreQuery.java:243-252``)."""
    inner = topk_sql(q, 1_000_000_000, table, id_col, text_col)
    return f"""
WITH fs_hits AS (
{inner}
),
fs_len AS (
  SELECT {id_col} AS doc_id,
         CAST(len({TOKEN_SQL.format(col=text_col)}) AS BIGINT) AS field_len
  FROM {table}
),
fs_val AS (
  SELECT h.doc_id,
         CAST(({value}) AS DOUBLE) AS factor
  FROM fs_hits h JOIN fs_len l ON l.doc_id = h.doc_id
)
SELECT doc_id,
       CAST(CASE WHEN factor IS NOT NULL AND NOT isnan(factor)
                      AND factor >= 0
                 THEN factor * CAST({float(boost)!r} AS DOUBLE)
                 ELSE 0 END AS REAL) AS score
FROM fs_val
ORDER BY score DESC, doc_id ASC
LIMIT {k}
""".strip()


def term_stats_sql(terms: list[str], table: str = "documents",
                   id_col: str = "doc_id", text_col: str = "text") -> str:
    """doc_freq / total_term_freq per term (pure ints)."""
    inlist = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH {corpus_ctes(table, id_col, text_col)}
SELECT tf.term AS term, CAST(count(*) AS BIGINT) AS doc_freq,
       CAST(sum(tf.freq) AS BIGINT) AS total_term_freq
FROM tf WHERE tf.term IN ({inlist})
GROUP BY tf.term ORDER BY term
""".strip()


def norms_sql(table: str = "documents", id_col: str = "doc_id",
              text_col: str = "text") -> str:
    """Per-doc field_len + norm_byte (int quantization parity)."""
    return f"""
WITH {corpus_ctes(table, id_col, text_col)}
SELECT doc_id, CAST(dl AS INT) AS field_len,
       CAST({B4_ENC.format(i='dl')} AS INT) AS norm_byte
FROM dl ORDER BY doc_id
""".strip()


def interval_ordered_sql(
    t0: str,
    t1: str,
    gaps: int,
    k: int,
    pivot: float = 1.0,
    boost: float = 1.0,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Two-term ordered IntervalQuery twin (Intervals.maxgaps(gaps,
    Intervals.ordered(t0, t1))): the reference's ordered iterator emits
    exactly the minimal intervals, which for two single-position terms are
    the mutually-nearest pairs — pb = MIN t1-position > pa AND pa = MAX
    t0-position < pb. Sloppy freq accumulates in float32 in emission order
    (ascending pa; ``IntervalScorer.java:63-68`` — replayed with an ordered
    list_reduce through REAL), minExtent = 2 so each interval contributes
    1/(pb - pa); score is the all-float32 saturation function
    ``boost * (1 - pivot/(pivot + freq))`` (``IntervalScoreFunction.java``).
    Norms and idf are unused — no corpus stats CTEs needed."""
    sat = (
        f"CAST(CAST({boost} AS REAL) * CAST(CAST(1.0 AS REAL) - "
        f"CAST(CAST({pivot} AS REAL) / CAST(CAST({pivot} AS REAL) + freq AS REAL)"
        f" AS REAL) AS REAL) AS REAL)"
    )
    return f"""
WITH tokarr AS (
  SELECT {id_col} AS doc_id, {TOKEN_SQL.format(col=text_col)} AS toks FROM {table}
),
pos AS (
  SELECT doc_id, unnest(toks) AS term, unnest(range(len(toks))) AS p FROM tokarr
),
nxt AS (
  SELECT a.doc_id, a.p AS pa, min(b.p) AS pb
  FROM (SELECT doc_id, p FROM pos WHERE term = '{t0}') a
  JOIN (SELECT doc_id, p FROM pos WHERE term = '{t1}') b
    ON b.doc_id = a.doc_id AND b.p > a.p
  GROUP BY a.doc_id, a.p
),
minimal AS (
  SELECT doc_id, max(pa) AS pa, pb FROM nxt GROUP BY doc_id, pb
),
kept AS (
  SELECT doc_id, pa, pb FROM minimal WHERE pb - pa - 1 <= {gaps}
),
pf AS (
  SELECT doc_id,
         CAST(list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
                        list(CAST(1.0 AS DOUBLE) / (pb - pa) ORDER BY pa)),
           (acc, x) -> CAST(CAST(acc + x AS REAL) AS DOUBLE)) AS REAL) AS freq
  FROM kept GROUP BY doc_id
)
SELECT doc_id, {sat} AS score
FROM pf
ORDER BY score DESC, doc_id ASC
LIMIT {k}
""".strip()


def interval_contained_by_sql(
    t: str,
    t0: str,
    t1: str,
    k: int,
    pivot: float = 1.0,
    boost: float = 1.0,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Intervals.containedBy(term t, ordered(t0, t1)) twin: emitted
    intervals are the positions of ``t`` lying inside some minimal ordered
    (t0, t1) interval (the big side's minimal set is the mutually-nearest
    pair construction of ``interval_ordered_sql``). Every emitted interval
    has length 1 and minExtent = 1, so each contributes exactly 1.0 and the
    float32 sloppy freq equals the kept-position count (exact in f32 below
    2^24); the saturation score follows ``IntervalScoreFunction.java``."""
    sat = (
        f"CAST(CAST({boost} AS REAL) * CAST(CAST(1.0 AS REAL) - "
        f"CAST(CAST({pivot} AS REAL) / CAST(CAST({pivot} AS REAL) + freq AS REAL)"
        f" AS REAL) AS REAL) AS REAL)"
    )
    return f"""
WITH tokarr AS (
  SELECT {id_col} AS doc_id, {TOKEN_SQL.format(col=text_col)} AS toks FROM {table}
),
pos AS (
  SELECT doc_id, unnest(toks) AS term, unnest(range(len(toks))) AS p FROM tokarr
),
nxt AS (
  SELECT a.doc_id, a.p AS pa, min(b.p) AS pb
  FROM (SELECT doc_id, p FROM pos WHERE term = '{t0}') a
  JOIN (SELECT doc_id, p FROM pos WHERE term = '{t1}') b
    ON b.doc_id = a.doc_id AND b.p > a.p
  GROUP BY a.doc_id, a.p
),
big AS (
  SELECT doc_id, max(pa) AS pa, pb FROM nxt GROUP BY doc_id, pb
),
kept AS (
  SELECT DISTINCT x.doc_id, x.p
  FROM (SELECT doc_id, p FROM pos WHERE term = '{t}') x
  JOIN big ON big.doc_id = x.doc_id AND x.p BETWEEN big.pa AND big.pb
),
pf AS (
  SELECT doc_id, CAST(count(*) AS REAL) AS freq FROM kept GROUP BY doc_id
)
SELECT doc_id, {sat} AS score
FROM pf
ORDER BY score DESC, doc_id ASC
LIMIT {k}
""".strip()


def spellcheck_sql(
    term: str,
    k: int,
    max_edits: int = 2,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    distance: str = "levenshtein",
) -> str:
    """DirectSpellChecker twin: dictionary terms within ``max_edits`` edits
    sharing the first character, scored ``1 - dist/min(len_a, len_b)``
    (double ops, final REAL cast — the engine computes the same double
    expression), ranked score desc, doc_freq desc, term asc.

    ``distance``: "levenshtein" (classic) or "osa" (transposition-aware,
    the reference's default). The osa twin uses DuckDB's
    ``damerau_levenshtein`` — the UNRESTRICTED variant, which equals the
    engine's restricted OSA except on overlapping-edit patterns (e.g.
    'ca'->'abc': 2 vs 3); tests pin agreement over the corpus vocabulary,
    so the twin stays an independent DuckDB computation rather than an
    embedded replay. With ``distance='osa'`` only ``max_edits<=1`` is
    accepted: at 1 edit the two metrics are provably identical, while at
    2+ the unrestricted candidate FILTER can admit terms the engine's
    restricted OSA rejects (dist 2 vs 3) — a guaranteed divergence in the
    candidate SET, so the twin raises instead of silently differing."""
    if distance == "osa" and max_edits > 1:
        raise ValueError(
            "osa twin supports max_edits<=1 (DuckDB damerau_levenshtein is "
            "unrestricted DL; restricted OSA diverges at 2+ edits)")
    fn = {"levenshtein": "levenshtein",
          "osa": "damerau_levenshtein"}[distance]
    c0, c1 = term[0], chr(ord(term[0]) + 1)
    return f"""
WITH {corpus_ctes(table, id_col, text_col)}
SELECT term,
       CAST(1.0 - CAST({fn}(term, '{term}') AS DOUBLE)
                  / least(length(term), {len(term)}) AS REAL) AS score,
       CAST(df AS BIGINT) AS doc_freq
FROM df
WHERE term >= '{c0}' AND term < '{c1}' AND term <> '{term}'
  AND abs(length(term) - {len(term)}) <= {max_edits}
  AND {fn}(term, '{term}') <= {max_edits}
ORDER BY score DESC, doc_freq DESC, term ASC
LIMIT {k}
""".strip()


def wordbreak_sql(
    term: str,
    k: int = 5,
    max_changes: int = 1,
    min_break_length: int = 1,
    min_freq: int = 1,
    max_evaluations: int = 1000,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """WordBreakSpellChecker.suggestWordBreaks twin: the SAME bounded
    split enumeration as the engine (``functions/spell.enumerate_breaks``
    — one shared copy, since the evaluation cut is order-sensitive)
    embedded as VALUES; dictionary membership and summed doc_freq come
    from DuckDB's own corpus scan."""
    from lucene_spark.functions.spell import enumerate_breaks

    cands = enumerate_breaks(
        term, max_changes, min_break_length, max_evaluations)
    if not cands:
        return ("SELECT CAST(NULL AS VARCHAR) AS suggestion, "
                "CAST(NULL AS INT) AS changes, CAST(NULL AS BIGINT) AS freq "
                "WHERE FALSE")

    def q(s: str) -> str:
        return s.replace("'", "''")

    values = ", ".join(
        f"({sid}, '{q(' '.join(parts))}', {nb}, {len(parts)}, '{q(part)}')"
        for sid, parts, nb in cands
        for part in parts
    )
    return f"""
WITH {corpus_ctes(table, id_col, text_col)},
cand(sid, suggestion, changes, n, part) AS (VALUES {values})
SELECT suggestion, CAST(changes AS INT) AS changes,
       CAST(SUM(df) AS BIGINT) AS freq
FROM cand JOIN df ON cand.part = df.term AND df.df >= {min_freq}
GROUP BY sid, suggestion, changes, n
HAVING COUNT(*) = n
ORDER BY changes ASC, freq DESC, suggestion ASC
LIMIT {k}
""".strip()


def wordcombine_sql(
    terms: list[str],
    k: int = 5,
    max_changes: int = 1,
    max_combine_length: int = 20,
    min_freq: int = 1,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """WordBreakSpellChecker.suggestWordCombinations twin (enumeration
    shared with the engine via ``functions/spell.enumerate_combinations``)."""
    from lucene_spark.functions.spell import enumerate_combinations

    cands = enumerate_combinations(terms, max_changes, max_combine_length)
    if not cands:
        return ("SELECT CAST(NULL AS INT) AS start, CAST(NULL AS INT) AS "
                "length, CAST(NULL AS VARCHAR) AS suggestion, "
                "CAST(NULL AS BIGINT) AS freq WHERE FALSE")
    values = ", ".join(
        f"({s}, {r}, '{c.replace(chr(39), chr(39) * 2)}')"
        for s, r, c in cands)
    return f"""
WITH {corpus_ctes(table, id_col, text_col)},
cand(start, length, suggestion) AS (VALUES {values})
SELECT CAST(start AS INT) AS start, CAST(length AS INT) AS length,
       suggestion, CAST(df AS BIGINT) AS freq
FROM cand JOIN df ON cand.suggestion = df.term AND df.df >= {min_freq}
ORDER BY freq DESC, start ASC, length ASC
LIMIT {k}
""".strip()


def more_like_this_sql(
    src_doc: int,
    k: int,
    max_query_terms: int = 25,
    min_term_freq: int = 2,
    min_doc_freq: int = 5,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """MoreLikeThis twin: select the source doc's top ``max_query_terms``
    terms by float32 ``tf * idf`` with the ClassicSimilarity idf
    ``(float)(ln((dc+1)/(df+1)) + 1)`` (tf >= min_term_freq,
    df >= min_doc_freq; ties broken term asc like the engine), then score
    the SHOULD disjunction with the standard BM25 leaf formula and the
    order-exact DOUBLE clause sum."""
    idf = "CAST(ln(1 + (c.dc - sel.df + 0.5) / (sel.df + 0.5)) AS REAL)"
    score = _leaf_score(f"({idf})", "tf.freq", "dl.dl")
    return f"""
WITH {corpus_ctes(table, id_col, text_col)},
consts AS (
  SELECT CAST(st.sttf / CAST(st.dc AS DOUBLE) AS REAL) AS avgdl, st.dc AS dc FROM st
),
src AS (
  SELECT term, freq AS tf FROM tf
  WHERE doc_id = {src_doc} AND freq >= {min_term_freq}
),
selected AS (
  SELECT s.term, d.df,
         CAST(CAST(s.tf AS REAL) *
              CAST(ln((c.dc + 1) / CAST(d.df + 1 AS DOUBLE)) + 1.0 AS REAL)
              AS REAL) AS mlt
  FROM src s JOIN df d ON d.term = s.term, consts c
  WHERE d.df >= {min_doc_freq}
  ORDER BY mlt DESC, s.term ASC
  LIMIT {max_query_terms}
),
scored AS (
  SELECT tf.doc_id, {score} AS score
  FROM tf
  JOIN selected sel ON sel.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id, consts c
)
SELECT doc_id, CAST(sum(CAST(score AS DOUBLE)) AS REAL) AS score
FROM scored GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
""".strip()


def _span_pos_ctes(table: str, id_col: str, text_col: str) -> str:
    """Shared CTE prefix for the span twins: corpus stats + per-token
    positions (TOKEN_SQL replays the SIMPLE analyzer — span entries must
    index with analyzer='simple')."""
    return f"""
WITH {corpus_ctes(table, id_col, text_col)},
consts AS (
  SELECT CAST(st.sttf / CAST(st.dc AS DOUBLE) AS REAL) AS avgdl, st.dc AS dc FROM st
),
tokarr AS (
  SELECT {id_col} AS doc_id, {TOKEN_SQL.format(col=text_col)} AS toks FROM {table}
),
pos AS (
  SELECT doc_id, unnest(toks) AS term, unnest(range(len(toks))) AS p FROM tokarr
)
""".strip()


def _span_idf_sql(terms: list[str]) -> str:
    """REAL cast of the DOUBLE sum of coalesce-0 per-term f32 idfs — the
    span family's SpanWeight.buildSimWeight fold (absent terms contribute
    0, matching the engine's present-terms filter)."""
    parts = [
        "coalesce((SELECT CAST(CAST(ln(1 + (c.dc - df.df + 0.5) / (df.df + 0.5)) AS REAL) AS DOUBLE)"
        f" FROM df WHERE df.term = '{t}'), 0)"
        for t in terms
    ]
    return "CAST(" + " + ".join(parts) + " AS REAL)"


def span_first_sql(term: str, end: int, k: int, table: str = "documents",
                   id_col: str = "doc_id", text_col: str = "text") -> str:
    """SpanFirstQuery twin: term spans with p < end, sloppyFreq 1.0 each."""
    score = _leaf_score("w.v", "pf.freq", "dl.dl")
    return f"""
{_span_pos_ctes(table, id_col, text_col)},
pf AS (
  SELECT doc_id, CAST(count(*) AS DOUBLE) AS freq
  FROM pos WHERE term = '{term}' AND p < {int(end)} GROUP BY doc_id
),
w AS (SELECT {_span_idf_sql([term])} AS v FROM consts c)
SELECT pf.doc_id AS doc_id, CAST({score} AS REAL) AS score
FROM pf JOIN dl ON dl.doc_id = pf.doc_id, consts c, w
WHERE pf.freq > 0
ORDER BY score DESC, doc_id ASC
LIMIT {k}
""".strip()


def span_or_sql(terms: list[str], k: int, table: str = "documents",
                id_col: str = "doc_id", text_col: str = "text") -> str:
    """SpanOrQuery twin: freq = total occurrences of any clause term."""
    uniq = sorted(set(terms))
    in_list = ", ".join(f"'{t}'" for t in uniq)
    score = _leaf_score("w.v", "pf.freq", "dl.dl")
    return f"""
{_span_pos_ctes(table, id_col, text_col)},
pf AS (
  SELECT doc_id, CAST(count(*) AS DOUBLE) AS freq
  FROM pos WHERE term IN ({in_list}) GROUP BY doc_id
),
w AS (SELECT {_span_idf_sql(uniq)} AS v FROM consts c)
SELECT pf.doc_id AS doc_id, CAST({score} AS REAL) AS score
FROM pf JOIN dl ON dl.doc_id = pf.doc_id, consts c, w
WHERE pf.freq > 0
ORDER BY score DESC, doc_id ASC
LIMIT {k}
""".strip()


def span_not_sql(include: str, exclude: str, k: int, pre: int = 0,
                 post: int = 0, table: str = "documents",
                 id_col: str = "doc_id", text_col: str = "text") -> str:
    """SpanNotQuery twin: include spans with no exclude span in
    [p - pre, p + post]; the weight keeps the include term's idf alone."""
    score = _leaf_score("w.v", "pf.freq", "dl.dl")
    return f"""
{_span_pos_ctes(table, id_col, text_col)},
kept AS (
  SELECT i.doc_id, i.p
  FROM (SELECT doc_id, p FROM pos WHERE term = '{include}') i
  WHERE NOT EXISTS (
    SELECT 1 FROM (SELECT doc_id, p FROM pos WHERE term = '{exclude}') e
    WHERE e.doc_id = i.doc_id
      AND e.p BETWEEN i.p - {int(pre)} AND i.p + {int(post)}
  )
),
pf AS (
  SELECT doc_id, CAST(count(*) AS DOUBLE) AS freq FROM kept GROUP BY doc_id
),
w AS (SELECT {_span_idf_sql([include])} AS v FROM consts c)
SELECT pf.doc_id AS doc_id, CAST({score} AS REAL) AS score
FROM pf JOIN dl ON dl.doc_id = pf.doc_id, consts c, w
WHERE pf.freq > 0
ORDER BY score DESC, doc_id ASC
LIMIT {k}
""".strip()


def span_position_range_sql(term: str, start: int, end: int, k: int,
                            table: str = "documents",
                            id_col: str = "doc_id",
                            text_col: str = "text") -> str:
    """SpanPositionRangeQuery twin: term spans with start <= p < end."""
    score = _leaf_score("w.v", "pf.freq", "dl.dl")
    return f"""
{_span_pos_ctes(table, id_col, text_col)},
pf AS (
  SELECT doc_id, CAST(count(*) AS DOUBLE) AS freq
  FROM pos WHERE term = '{term}'
    AND p >= {int(start)} AND p < {int(end)} GROUP BY doc_id
),
w AS (SELECT {_span_idf_sql([term])} AS v FROM consts c)
SELECT pf.doc_id AS doc_id, CAST({score} AS REAL) AS score
FROM pf JOIN dl ON dl.doc_id = pf.doc_id, consts c, w
WHERE pf.freq > 0
ORDER BY score DESC, doc_id ASC
LIMIT {k}
""".strip()


def fuzzy_like_this_sql(
    sources: list[tuple[str, int, int]],
    k: int,
    max_num_terms: int = 25,
    max_variants_per_term: int = 50,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """FuzzyLikeThisQuery twin. ``sources`` = the DISTINCT analyzed source
    terms with (term, max_edits, prefix_len) — the caller analyzes the
    query strings (static). OSA expansion via damerau_levenshtein
    (max_edits<=1 enforced — the spellcheck twin's provable-equality
    bound), per-source variant caps, ClassicSimilarity idf on the source
    df (mean variant df fallback, integer division), global top
    max_num_terms by (score desc, term asc), each variant scored as a
    BM25 leaf with the ARTIFICIAL df=1 and boost = the variant score."""
    exps, scs = [], []
    for i, (src, max_edits, prefix_len) in enumerate(sources):
        if max_edits > 1:
            raise ValueError("osa twin supports max_edits<=1")
        pref = (f"AND term >= '{src[:prefix_len]}' "
                f"AND starts_with(term, '{src[:prefix_len]}') "
                if prefix_len > 0 else "")
        in_dist = (f"abs(length(term) - {len(src)}) <= {max_edits} {pref}"
                   f"AND damerau_levenshtein(term, '{src}') <= {max_edits}")
        exps.append(f"""
exp{i} AS (
  SELECT term, df,
         CASE WHEN damerau_levenshtein(term, '{src}') = 0
              THEN CAST(1.0 AS REAL)
              ELSE CAST(CAST(1.0 AS DOUBLE)
                   - CAST(CAST(damerau_levenshtein(term, '{src}') AS DOUBLE)
                          / least(length(term), {len(src)}) AS REAL)
                   AS REAL) END AS boost
  FROM df WHERE {in_dist}
  ORDER BY boost DESC, term ASC
  LIMIT {max_variants_per_term}
),
src{i} AS (
  SELECT coalesce(
    (SELECT df FROM df WHERE term = '{src}'),
    (SELECT CAST(sum(df) // count(*) AS BIGINT) FROM df WHERE {in_dist})
  ) AS df0
)""".strip())
        scs.append(
            f"SELECT e.term AS term,\n"
            f"       CAST(CAST(e.boost * e.boost AS REAL)\n"
            f"            * CAST(ln((c.dc + 1) / CAST(s.df0 + 1 AS DOUBLE))"
            f" + 1.0 AS REAL) AS REAL) AS w\n"
            f"FROM exp{i} e, src{i} s, consts c"
        )
    union = "\nUNION ALL\n".join(scs)
    # BM25 leaf with ARTIFICIAL df = 1 (newTermQuery's TermStates)
    idf1 = "CAST(ln(1 + (c.dc - 1 + 0.5) / (1 + 0.5)) AS REAL)"
    score = _leaf_score(f"CAST(sel.w * {idf1} AS REAL)", "tf.freq", "dl.dl")
    return f"""
WITH {corpus_ctes(table, id_col, text_col)},
consts AS (
  SELECT CAST(st.sttf / CAST(st.dc AS DOUBLE) AS REAL) AS avgdl, st.dc AS dc
  FROM st
),
{",".join(exps)},
allv AS (
{union}
),
sel AS (
  SELECT term, w FROM allv ORDER BY w DESC, term ASC LIMIT {max_num_terms}
),
scored AS (
  SELECT tf.doc_id, {score} AS score
  FROM tf JOIN sel ON sel.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id, consts c
)
SELECT doc_id, CAST(sum(CAST(score AS DOUBLE)) AS REAL) AS score
FROM scored GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
""".strip()

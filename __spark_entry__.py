"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship BM25 query on sf0.001.
``queries()`` exposes one callable per implemented operator (SURVEY.md §2);
``oracle_sql()`` gives the DuckDB dual-execution SQL for each — BM25 entries
reproduce the engine's float32 scores bit-exactly in SQL (REAL casts, see
lucene_spark/plans/sqlgen.py).

The BM25 entries index the ``documents`` table with the engine's `simple`
analyzer (the cross-engine-provable analysis chain; the Lucene-parity
`standard` chain is pytest-verified against the scalar oracle instead).
Index builds are cached per sf_dir under /tmp and are resumable — repeat
calls reuse the manifest.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_QUERY_K = 20

# flat query ASTs shared by the Spark side and the SQL generator
_BM25_QUERIES: dict[str, dict] = {
    "bm25_term": {"bool": {"must": [{"term": "scan"}]}},
    "bm25_term_rare": {"bool": {"must": [{"term": "dup"}]}},
    "bm25_conj": {"bool": {"must": [{"term": "scan"}, {"term": "merge"}]}},
    "bm25_disj_msm2": {
        "bool": {
            "should": [{"term": "scan"}, {"term": "merge"}, {"term": "dup"}],
            "min_should_match": 2,
        }
    },
    "bm25_must_not": {
        "bool": {"must": [{"term": "dup"}], "must_not": [{"term": "merge"}]}
    },
    "bm25_filter": {"bool": {"must": [{"term": "scan"}], "filter": [{"term": "dup"}]}},
    "bm25_boost": {
        "bool": {
            "must": [{"term": "scan", "boost": 2.0}],
            "should": [{"term": "dup", "boost": 0.5}],
        }
    },
    "bm25_dup_should": {"bool": {"should": [{"term": "dup"}, {"term": "dup"}]}},
    "bm25_mixed": {
        "bool": {
            "must": [{"term": "hash"}],
            "should": [{"term": "dup"}, {"term": "scan"}],
            "must_not": [{"term": "vector"}],
        }
    },
}
_PREFIX = "s"  # scan/sort/small/spark/stream/slow...
_PHRASE = ["scan", "merge"]
_PHRASE_SLOP = (["scan", "merge"], 2)
_SPAN_NEAR = (["scan", "merge"], 3)
_INTERVAL = ("scan", "merge", 3)  # maxgaps(3, ordered(scan, merge))
_INTERVAL_CB = ("hash", "scan", "merge")  # contained_by(hash, ordered(scan, merge))
_SPAN_WITHIN = ("key", "sort", "table")   # span_within(key, ordered(sort, table))
_SPELL = ("stor", 10, 2)  # DirectSpellChecker probe: term, k, max_edits
_SPELL_OSA = ("sacn", 10, 1)  # transposed probe: 1 OSA edit from "scan"
_MLT_DOC = 0  # MoreLikeThis source doc (original table id)
_SUGGEST_PREFIX, _SUGGEST_K = "s", 15
_MULTI_PHRASE = [["scan"], ["merge", "table"]]
_SYNONYM = ["scan", "merge", "dup"]
_DISMAX = (["scan", "merge", "dup"], 0.3)
#: BlendedTermQuery probes: (terms, boosts, tie_breaker) for the default
#: DisMax rewrite; (terms, None) for the BOOLEAN_REWRITE SHOULD-sum variant
_BLENDED = (["scan", "dup"], [1.0, 0.7], 0.01)
_BLENDED_BOOL = ["merge", "dup", "sort"]
_WILDCARD = "s?an"       # scan, span...
#: Lucene RegExp SYNTAX probe: union + class + top-level intersection +
#: bounded repetition — translated by query/regexp.py, never passed raw
_REGEXP = "(s.an|m[ae]rge)&[a-z]{4,5}&.*e.*"
#: NESTED intersection — no lookahead-free regex translation exists, so
#: the engine routes this through the derivative-automaton layer
#: (query/automaton.py): superset regex + exact DFA check in the term
#: dictionary walk. The DuckDB oracle uses the hand-derived equivalent
#: plain-regex form (equivalence brute-force-proven in tests/test_automaton.py):
#:   s[a-z]* ∩ [a-z]*n ∩ .{3,6}  =  s[a-z]{1,4}n
#:   (t[a-z]* ∩ [a-z]*e)s?       =  t[a-z]*es?
_REGEXP_NESTED = "(s[a-z]*&[a-z]*n&.{3,6})|(t[a-z]*&[a-z]*e)s?"
_RANGE = ("taa", "tzz")  # table..tuple region of the vocabulary
_INSET = ["scan", "merge", "zzz-absent", "hash"]
_FUZZY = ("scan", 1)
_COUNT_AST = {"bool": {"must": [{"term": "scan"}], "should": [{"term": "dup"}, {"term": "merge"}], "min_should_match": 1}}
_AFTER_TERM = "scan"
_STATS_TERMS = ["scan", "merge", "hash", "dup", "zzz-absent"]
_POSTINGS_TERM = "dup"


# ------------------------------------------------------------------ engine cache

def _cache_dir(sf_dir: str, name: str) -> str:
    """Per-scale entry-cache directory (the single place the /tmp cache
    root + keying lives; artifact-level content fingerprints make a
    basename collision stale-serve impossible — the artifact rebuilds)."""
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return os.path.join("/tmp/lucene_spark_entry_v2", tag, name)


def _index_dir_for(sf_dir: str) -> str:
    return _cache_dir(sf_dir, "documents_idx")


def _documents_as_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> input-hint shape; conv_id zero-padded so engine docIDs
    (dense rank over conv_id) order exactly like numeric doc_id."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return docs.select(
        F.lpad(F.col("doc_id").cast("string"), 12, "0").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("doc").alias("role"),
        F.col("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("ts"),
    )


def _searcher(spark: SparkSession, sf_dir: str, analyzer: str = "simple"):
    from lucene_spark.index.build import IndexConfig, build_index, load_manifest
    from lucene_spark.index.merge import merge_index
    from lucene_spark.query.search import IndexSearcher

    index_dir = _index_dir_for(sf_dir)
    if analyzer != "simple":
        index_dir += "_" + analyzer
    m = load_manifest(index_dir)
    if m is None or not m.get("merged"):
        tdf = _documents_as_transcripts(spark, sf_dir)
        cfg = IndexConfig(num_segments=4, term_buckets=8, hot_term_df=4096,
                          analyzer=analyzer)
        build_index(spark, tdf, index_dir, cfg)
        merge_index(spark, index_dir)
    return IndexSearcher(spark, index_dir)


def _topk_df(spark: SparkSession, sf_dir: str, ast: dict, k: int = _QUERY_K) -> DataFrame:
    from lucene_spark.query.ast import parse_query, rewrite_fixpoint

    s = _searcher(spark, sf_dir)
    hits = s.search(rewrite_fixpoint(parse_query(json.dumps(ast))), k)
    dm = s.docmap().select("doc_id", F.col("conv_id").cast("long").alias("orig_id"))
    return (
        hits.join(dm, "doc_id")
        .select(F.col("orig_id").alias("doc_id"), "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def _prefix_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lucene_spark.query.ast import PrefixQuery

    s = _searcher(spark, sf_dir)
    hits = s.search(PrefixQuery(_PREFIX), _QUERY_K)
    dm = s.docmap().select("doc_id", F.col("conv_id").cast("long").alias("orig_id"))
    return (
        hits.join(dm, "doc_id")
        .select(F.col("orig_id").alias("doc_id"), "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def _phrase_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lucene_spark.query.ast import PhraseQuery

    s = _searcher(spark, sf_dir)
    hits = s.search(PhraseQuery(tuple(_PHRASE)), _QUERY_K)
    dm = s.docmap().select("doc_id", F.col("conv_id").cast("long").alias("orig_id"))
    return (
        hits.join(dm, "doc_id")
        .select(F.col("orig_id").alias("doc_id"), "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def _phrase_slop_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lucene_spark.query.ast import PhraseQuery

    terms, slop = _PHRASE_SLOP
    return _multiterm_df(spark, sf_dir, PhraseQuery(tuple(terms), slop))


def _span_near_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lucene_spark.query.ast import SpanNearQuery

    terms, slop = _SPAN_NEAR
    q = SpanNearQuery(tuple(terms), slop, in_order=False)
    return _multiterm_df(spark, sf_dir, q)


_MULTI_QUERY = {"bool": {"must": [{"term": "scan"}],
                         "should": [{"term": "merge"}, {"term": "window"}]}}


def _multi_searcher(spark, sf_dir):
    """Two leaf indexes over a doc_id-split of documents, searched as one
    composite (MultiReader analog) — the oracle is the SAME flat-BM25 SQL
    as a single combined index, which the composite must equal bit-exactly."""
    from lucene_spark.index.build import IndexConfig, build_index, load_manifest
    from lucene_spark.index.merge import merge_index
    from lucene_spark.query.multi import MultiIndexSearcher

    dirs = []
    tdf = None
    n_docs = None
    for i in range(2):
        d = _index_dir_for(sf_dir) + f"_multileaf{i}"
        m = load_manifest(d)
        if m is None or not m.get("merged"):
            if tdf is None:
                tdf = _documents_as_transcripts(spark, sf_dir)
                n_docs = tdf.count()
            cut = n_docs // 2
            part = tdf.filter(
                (F.col("conv_id").cast("long") < cut) if i == 0
                else (F.col("conv_id").cast("long") >= cut)
            )
            build_index(spark, part, d,
                        IndexConfig(num_segments=2, term_buckets=8,
                                    hot_term_df=4096, analyzer="simple"))
            merge_index(spark, d)
        dirs.append(d)
    return MultiIndexSearcher(spark, dirs)


def _hits_to_orig(s, hits: DataFrame) -> DataFrame:
    """Map internal docIDs back to the documents table's ids (the docmap's
    conv_id is the zero-padded original id) with the standard output
    contract (score desc, doc asc) — shared by every hits-shaped entry."""
    dm = s.docmap().select(
        "doc_id", F.col("conv_id").cast("long").alias("orig_id"))
    return (
        hits.join(dm, "doc_id")
        .select(F.col("orig_id").alias("doc_id"), "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def _multi_index_df(spark, sf_dir):
    from lucene_spark.query.ast import parse_query

    s = _multi_searcher(spark, sf_dir)
    return _hits_to_orig(
        s, s.search(parse_query(json.dumps(_MULTI_QUERY)), _QUERY_K))


_SPAN_FIRST = ("scan", 20)
_SPAN_OR = ["scan", "merge", "window"]
_SPAN_NOT = ("scan", "table", 1, 1)  # include, exclude, pre, post


def _span_hits_df(make_hits):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        s = _searcher(spark, sf_dir)
        return _hits_to_orig(s, make_hits(s))
    return run


_span_first_df = _span_hits_df(
    lambda s: s.span_first(_SPAN_FIRST[0], _SPAN_FIRST[1], _QUERY_K))
_SPAN_POSRANGE = ("scan", 3, 17)
_span_posrange_df = _span_hits_df(
    lambda s: s.span_position_range(_SPAN_POSRANGE[0], _SPAN_POSRANGE[1],
                                    _SPAN_POSRANGE[2], _QUERY_K))
_span_or_df = _span_hits_df(lambda s: s.span_or(_SPAN_OR, _QUERY_K))
_span_not_df = _span_hits_df(
    lambda s: s.span_not(_SPAN_NOT[0], _SPAN_NOT[1], _QUERY_K,
                         pre=_SPAN_NOT[2], post=_SPAN_NOT[3]))


def _interval_ordered_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IntervalQuery: maxgaps(g, ordered(t0, t1)) — saturation-scored sloppy
    interval frequency (queries/intervals module analog)."""
    from lucene_spark.query.intervals import maxgaps, ordered

    t0, t1, g = _INTERVAL
    s = _searcher(spark, sf_dir)
    hits = s.search_intervals(maxgaps(g, ordered(t0, t1)), _QUERY_K)
    dm = s.docmap().select("doc_id", F.col("conv_id").cast("long").alias("orig_id"))
    return (
        hits.join(dm, "doc_id")
        .select(F.col("orig_id").alias("doc_id"), "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def _span_within_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SpanWithinQuery analog (SpanWithinQuery.java:30): little spans inside
    a big ordered span — IndexSearcher.span_within wrapper over the
    contained_by interval automaton (same oracle shape)."""
    from lucene_spark.query.intervals import ordered

    t, t0, t1 = _SPAN_WITHIN
    s = _searcher(spark, sf_dir)
    hits = s.span_within(t, ordered(t0, t1), _QUERY_K)
    dm = s.docmap().select("doc_id", F.col("conv_id").cast("long").alias("orig_id"))
    return (
        hits.join(dm, "doc_id")
        .select(F.col("orig_id").alias("doc_id"), "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def _interval_contained_by_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intervals.containedBy(t, ordered(t0, t1)) — relational interval
    filter over the minimal ordered antichain."""
    from lucene_spark.query.intervals import contained_by, ordered

    t, t0, t1 = _INTERVAL_CB
    s = _searcher(spark, sf_dir)
    hits = s.search_intervals(contained_by(t, ordered(t0, t1)), _QUERY_K)
    dm = s.docmap().select("doc_id", F.col("conv_id").cast("long").alias("orig_id"))
    return (
        hits.join(dm, "doc_id")
        .select(F.col("orig_id").alias("doc_id"), "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def _spellcheck_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DirectSpellChecker analog, classic Levenshtein distance."""
    t, k, e = _SPELL
    s = _searcher(spark, sf_dir)
    return s.suggest_spell(t, k, max_edits=e, distance="levenshtein")


def _spellcheck_osa_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DirectSpellChecker with the reference's transposition-aware default:
    the probe is a transposed misspelling ("sacn"), ONE edit from "scan"
    under OSA but two under classic Levenshtein."""
    t, k, e = _SPELL_OSA
    s = _searcher(spark, sf_dir)
    return s.suggest_spell(t, k, max_edits=e, distance="osa")


def _mlt_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MoreLikeThis: top tf·idf terms of one stored doc -> SHOULD query."""
    s = _searcher(spark, sf_dir)
    src = _documents_as_transcripts(spark, sf_dir)
    conv = str(_MLT_DOC).zfill(12)
    internal = s.docmap().filter(F.col("conv_id") == conv).select("doc_id").first()
    hits = s.more_like_this(int(internal["doc_id"]), src, _QUERY_K)
    dm = s.docmap().select("doc_id", F.col("conv_id").cast("long").alias("orig_id"))
    return (
        hits.join(dm, "doc_id")
        .select(F.col("orig_id").alias("doc_id"), "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def _suggest_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _searcher(spark, sf_dir)
    return s.suggest(_SUGGEST_PREFIX, _SUGGEST_K)


#: (key, k) probes for the analyzing-suggester family over the documents
#: dictionary (suggestion surface = text, weight = n_chars)
_SUG_ANALYZING = ("SPARk", 10)      # mixed case: the lookup key IS analyzed
_SUG_FUZZY = ("spork", 10)          # 1 edit from "spark", first char exact
_SUG_INFIX = ("customer lin", 10)   # whole-token "customer" + prefix "lin"
_WORDBREAK = ("tablescan", 5)       # -> "table scan"
_WORDCOMBINE = (("cust", "omer"), 5)  # -> "customer"
#: document completion family probes (suggest/.../document package)
_SUG_REGEX = ("(the|a|join) [a-z]{2,4} .*", 10)  # RegexCompletionQuery
#: ContextQuery: exact "en" boost 2 shadows prefix "e" boost 3 on 'en'
#: (longest spec wins, ContextQuery.java:290); "es" keeps the prefix boost
_SUG_CONTEXT = ("the", (("en", 2.0, True), ("e", 3.0, False)), 10)
_SUG_STOP = ("the fast k", ("the", "a"), 10)  # SuggestStopFilter trailing keep
#: BlendedInfixSuggester: infix match re-scored by earliest matched-token
#: position (linear 1-0.1p blender)
_SUG_BLENDED = ("customer lin", "linear", 10)


def _suggest_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suggestion dictionary from the PERSISTED artifact (built once,
    range-sorted by the analyzed form so prefix lookups prune row groups —
    the FST-built-at-index-time analog)."""
    from lucene_spark.operators.suggesters import (
        build_suggest_index, load_suggest_dict,
    )
    d = _cache_dir(sf_dir, "suggest_idx")
    # one fingerprint check (a count+hash aggregate job) per process per
    # scale — the three suggest entries share the artifact
    if d not in _SUGGEST_BUILT:
        build_suggest_index(
            _docs(spark, sf_dir), d, text_col="text", weight_col="n_chars")
        _SUGGEST_BUILT.add(d)
    return load_suggest_dict(spark, d)


_SUGGEST_BUILT: set[str] = set()


def _suggest_analyzing_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AnalyzingSuggester analog (AnalyzingSuggester.java:100): the lookup
    key runs through the SAME analysis chain as the stored suggestions;
    match = analyzed-form prefix; rank by weight."""
    from lucene_spark.operators.suggesters import suggest_analyzing
    return suggest_analyzing(
        _suggest_dict(spark, sf_dir), _SUG_ANALYZING[0], _SUG_ANALYZING[1])


def _suggest_regex_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RegexCompletionQuery analog: Lucene-RegExp pattern prefix-matches
    the analyzed form (translated by query/regexp.py, same body on both
    engines); score = weight."""
    from lucene_spark.operators.suggesters import suggest_regex
    return suggest_regex(
        _suggest_dict(spark, sf_dir), _SUG_REGEX[0], _SUG_REGEX[1])


def _suggest_context_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ContextQuery analog over a ContextSuggestField dictionary (one
    entry per (suggestion, lang)): longest-spec boost, float32
    CompletionScorer.score combination."""
    from lucene_spark.operators.suggesters import (
        build_context_suggest_dict, suggest_context,
    )
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    cd = build_context_suggest_dict(docs, weight_col="n_chars",
                                    context_col="lang")
    key, specs, k = _SUG_CONTEXT
    return suggest_context(cd, key, list(specs), k)


def _suggest_stop_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SuggestStopFilter analog: dictionary analysis drops all stopwords;
    the lookup key keeps a TRAILING stopword as a live prefix."""
    from lucene_spark.operators.suggesters import (
        build_suggest_dict_stop, suggest_analyzing_stop,
    )
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    key, stop, k = _SUG_STOP
    d = build_suggest_dict_stop(docs, frozenset(stop), weight_col="n_chars")
    return suggest_analyzing_stop(d, key, frozenset(stop), k)


def _suggest_blended_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BlendedInfixSuggester analog: infix matches re-scored by the
    position of the earliest matched token (weight quirks + Java long
    truncation replayed)."""
    from lucene_spark.operators.suggesters import suggest_blended_infix
    key, blender, k = _SUG_BLENDED
    return suggest_blended_infix(_suggest_dict(spark, sf_dir), key, k,
                                 blender=blender)


def _suggest_fuzzy_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FuzzySuggester analog: <=1-edit typo tolerance over the analyzed
    prefix (bounded levenshtein probe lengths, JVM-side), exact first char
    (nonFuzzyPrefix=1), no fuzz below minFuzzyLength=3."""
    from lucene_spark.operators.suggesters import suggest_fuzzy
    return suggest_fuzzy(
        _suggest_dict(spark, sf_dir), _SUG_FUZZY[0], _SUG_FUZZY[1])


def _suggest_infix_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AnalyzingInfixSuggester analog: non-final key tokens match whole
    suggestion tokens anywhere; the last key token prefix-matches any."""
    from lucene_spark.operators.suggesters import suggest_infix
    return suggest_infix(
        _suggest_dict(spark, sf_dir), _SUG_INFIX[0], _SUG_INFIX[1])


def _wordbreak_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordBreakSpellChecker.suggestWordBreaks: split a run-together term
    into dictionary words, ranked changes asc then summed doc_freq."""
    s = _searcher(spark, sf_dir)
    return s.suggest_wordbreak(_WORDBREAK[0], _WORDBREAK[1])


def _wordcombine_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordBreakSpellChecker.suggestWordCombinations: join adjacent query
    terms into one dictionary word."""
    s = _searcher(spark, sf_dir)
    return s.suggest_wordcombine(list(_WORDCOMBINE[0]), _WORDCOMBINE[1])


#: query-time join probe: all "customer" hits aggregate per lang (max),
#: to-side = the documents table keyed on lang
_JOIN_AST = {"term": "customer"}


def _query_time_join_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JoinUtil.createJoinQuery analog (join/JoinUtil.java:56): ALL hits of
    the from-query aggregate score per from_field value (ScoreMode.Max),
    and to-side docs sharing that value score the aggregate."""
    from lucene_spark.query.ast import parse_query

    s = _searcher(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    meta = docs.select(
        F.lpad(F.col("doc_id").cast("string"), 12, "0").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        "lang",
    )
    res = s.search_joined(
        parse_query(json.dumps(_JOIN_AST)), "lang", docs, "lang",
        k=_QUERY_K, score_mode="max", from_meta=meta, to_id_col="doc_id")
    return res.select("doc_id", "lang", "score")


def _multi_phrase_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lucene_spark.query.ast import MultiPhraseQuery

    q = MultiPhraseQuery(tuple(tuple(sl) for sl in _MULTI_PHRASE))
    return _multiterm_df(spark, sf_dir, q)


def _synonym_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lucene_spark.query.ast import SynonymQuery

    s = _searcher(spark, sf_dir)
    hits = s.search(SynonymQuery(tuple(_SYNONYM)), _QUERY_K)
    dm = s.docmap().select("doc_id", F.col("conv_id").cast("long").alias("orig_id"))
    return (
        hits.join(dm, "doc_id")
        .select(F.col("orig_id").alias("doc_id"), "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def _dismax_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lucene_spark.query.ast import DisjunctionMaxQuery, TermQuery

    terms, tb = _DISMAX
    s = _searcher(spark, sf_dir)
    hits = s.search(
        DisjunctionMaxQuery(tuple(TermQuery(t) for t in terms), tb), _QUERY_K
    )
    dm = s.docmap().select("doc_id", F.col("conv_id").cast("long").alias("orig_id"))
    return (
        hits.join(dm, "doc_id")
        .select(F.col("orig_id").alias("doc_id"), "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def _blended_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lucene_spark.query.ast import BlendedTermQuery

    terms, boosts, tb = _BLENDED
    q = BlendedTermQuery(tuple(terms), tuple(boosts), tb, "dismax")
    return _multiterm_df(spark, sf_dir, q)


def _blended_bool_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lucene_spark.query.ast import BlendedTermQuery

    q = BlendedTermQuery(tuple(_BLENDED_BOOL), None, 0.01, "bool")
    return _multiterm_df(spark, sf_dir, q)


def _multiterm_df(spark: SparkSession, sf_dir: str, q) -> DataFrame:
    s = _searcher(spark, sf_dir)
    return _hits_to_orig(s, s.search(q, _QUERY_K))


def _field_filter_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 MUST term + metadata FILTER: conv_id (zero-padded doc id) range
    — the PointRangeQuery-as-FILTER composition."""
    from lucene_spark.query.ast import BooleanQuery, FieldRangeQuery, TermQuery

    q = BooleanQuery(
        must=[TermQuery("scan")],
        filter=[FieldRangeQuery("conv_id", "000000000050", "000000000300")],
    )
    return _multiterm_df(spark, sf_dir, q)


def _wildcard_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lucene_spark.query.ast import WildcardQuery
    return _multiterm_df(spark, sf_dir, WildcardQuery(_WILDCARD))


def _regexp_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lucene_spark.query.ast import RegexpQuery
    return _multiterm_df(spark, sf_dir, RegexpQuery(_REGEXP))


def _regexp_nested_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lucene_spark.query.ast import RegexpQuery
    return _multiterm_df(spark, sf_dir, RegexpQuery(_REGEXP_NESTED))


def _range_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lucene_spark.query.ast import TermRangeQuery
    return _multiterm_df(spark, sf_dir, TermRangeQuery(_RANGE[0], _RANGE[1]))


def _inset_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lucene_spark.query.ast import TermInSetQuery
    return _multiterm_df(spark, sf_dir, TermInSetQuery(tuple(_INSET)))


def _fuzzy_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lucene_spark.query.ast import FuzzyQuery

    term, ed = _FUZZY
    s = _searcher(spark, sf_dir)
    hits = s.search(FuzzyQuery(term, ed), _QUERY_K)
    dm = s.docmap().select("doc_id", F.col("conv_id").cast("long").alias("orig_id"))
    return (
        hits.join(dm, "doc_id")
        .select(F.col("orig_id").alias("doc_id"), "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def _count_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lucene_spark.query.ast import parse_query, rewrite_fixpoint

    s = _searcher(spark, sf_dir)
    n = s.count(rewrite_fixpoint(parse_query(json.dumps(_COUNT_AST))))
    return spark.createDataFrame([(int(n),)], "hits long")


def _search_after_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page 2 of the bm25_term query (searchAfter floor from page 1)."""
    from lucene_spark.query.ast import TermQuery

    s = _searcher(spark, sf_dir)
    page1 = s.search(TermQuery(_AFTER_TERM), _QUERY_K).collect()
    if len(page1) < _QUERY_K:
        return spark.createDataFrame([], "doc_id long, score float")
    last = page1[-1]
    hits = s.search_after(
        TermQuery(_AFTER_TERM), _QUERY_K, (float(last["score"]), int(last["doc_id"]))
    )
    dm = s.docmap().select("doc_id", F.col("conv_id").cast("long").alias("orig_id"))
    return (
        hits.join(dm, "doc_id")
        .select(F.col("orig_id").alias("doc_id"), "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def _term_stats_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _searcher(spark, sf_dir)
    return (
        s.term_dict.filter(F.col("term").isin(_STATS_TERMS))
        .select("term", "doc_freq", "total_term_freq")
        .orderBy("term")
    )


def _norms_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _searcher(spark, sf_dir)
    return (
        s.docmap()
        .select(
            F.col("conv_id").cast("long").alias("doc_id"),
            F.col("field_len").cast("int").alias("field_len"),
            F.col("norm_byte").cast("int").alias("norm_byte"),
        )
        .orderBy("doc_id")
    )


def _collection_stats_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _searcher(spark, sf_dir)
    return spark.createDataFrame(
        [(int(s.doc_count), int(s.sum_ttf), float(s.avgdl))],
        "doc_count long, sum_total_term_freq long, avgdl float",
    )


def _postings_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _searcher(spark, sf_dir)
    dm = s.docmap().select("doc_id", F.col("conv_id").cast("long").alias("orig_id"))
    return (
        s.term_postings(_POSTINGS_TERM)
        .join(dm, "doc_id")
        .select(F.col("orig_id").alias("doc_id"), "freq")
        .orderBy("doc_id")
    )


# --------------------------------------------- collector / module operators

_FACET_TERM = "scan"          # facet/group/sort base query
_GROUP_K = 3
_SORT_K = 20
_CS_BOOST = 1.5
_HL_TERMS = ["scan", "merge"]
_HL_K = 5
_PARSER_QUERY = "+scan merge dup -vector"
_APPEND_TERM = "scan"


def _orig(s, hits: DataFrame) -> DataFrame:
    dm = s.docmap().select("doc_id", F.col("conv_id").cast("long").alias("orig_id"))
    return hits.join(dm, "doc_id").drop("doc_id").withColumnRenamed("orig_id", "doc_id")


def _match_all_df(spark, sf_dir):
    from lucene_spark.query.ast import MatchAllDocsQuery

    s = _searcher(spark, sf_dir)
    hits = s.search(MatchAllDocsQuery(), _QUERY_K)
    return _orig(s, hits).select("doc_id", "score").orderBy("doc_id")


def _constant_score_df(spark, sf_dir):
    from lucene_spark.query.ast import BoostQuery, ConstantScoreQuery, TermQuery

    s = _searcher(spark, sf_dir)
    q = BoostQuery(ConstantScoreQuery(TermQuery(_FACET_TERM)), _CS_BOOST)
    hits = s.search(q, _QUERY_K)
    return _orig(s, hits).select("doc_id", "score").orderBy("doc_id")


def _facet_df(spark, sf_dir):
    from lucene_spark.query.ast import TermQuery

    s = _searcher(spark, sf_dir)
    return s.facet_counts(TermQuery(_FACET_TERM), "field_len").select(
        "value", F.col("count").cast("long").alias("count")
    )


def _grouped_df(spark, sf_dir):
    from lucene_spark.query.ast import TermQuery

    s = _searcher(spark, sf_dir)
    g = s.search_grouped(TermQuery(_FACET_TERM), "field_len", _GROUP_K)
    return _orig(s, g).select("value", "doc_id", "score",
                              F.col("rank").cast("int").alias("rank"))


def _facet_taxonomy_df(spark, sf_dir):
    """Hierarchical drill-down: taxonomy (field_len div 8) / field_len,
    drilled into the first-level value "2" — counts per leaf under it."""
    from lucene_spark.query.ast import TermQuery

    s = _searcher(spark, sf_dir)
    out = s.facet_taxonomy(
        TermQuery(_FACET_TERM),
        [F.expr("field_len div 8"), F.col("field_len")],
        drilldown=("2",),
    )
    return out.select("value", F.col("count").cast("long").alias("count"))


def _facet_assoc_pairs():
    """Two association slots per doc (IntAssociationFacetField analog):
    (field_len % 5 -> field_len) and (field_len % 3 -> field_len div 2)."""
    return [
        (F.expr("cast(field_len % 5 as string)"), F.col("field_len")),
        (F.expr("cast(field_len % 3 as string)"), F.expr("field_len div 2")),
    ]


def _facet_assoc_sum_df(spark, sf_dir):
    from lucene_spark.query.ast import TermQuery

    s = _searcher(spark, sf_dir)
    out = s.facet_associations(TermQuery(_FACET_TERM), _facet_assoc_pairs(),
                               agg="sum")
    return out.select("label", F.col("value").cast("long").alias("value"),
                      F.col("count").cast("long").alias("count"))


def _facet_assoc_max_df(spark, sf_dir):
    from lucene_spark.query.ast import TermQuery

    s = _searcher(spark, sf_dir)
    pairs = [
        (F.expr("cast(field_len % 5 as string)"),
         F.col("field_len") * F.lit(0.5)),
        (F.expr("cast(field_len % 3 as string)"),
         F.col("field_len") * F.lit(0.25)),
    ]
    out = s.facet_associations(TermQuery(_FACET_TERM), pairs, agg="max",
                               float_values=True)
    return out.select("label", F.col("value").cast("float").alias("value"),
                      F.col("count").cast("long").alias("count"))


def _sorted_df(spark, sf_dir):
    from lucene_spark.query.ast import TermQuery

    s = _searcher(spark, sf_dir)
    out = s.search_sorted(TermQuery(_FACET_TERM), "field_len", _SORT_K,
                          ascending=False)
    return _orig(s, out).select("doc_id", F.col("field_len").cast("int")
                                .alias("field_len"), "score")


def _tsorted_searcher(spark, sf_dir):
    """Index built with index_sort='ts' (IndexWriterConfig.setIndexSort
    analog) over a synthetic per-doc timestamp 2026-01-01 + ((doc_id*37)%97)
    hours — 97 distinct values over the corpus give heavy ties, exercising
    the early-termination tie-break against the oracle."""
    from lucene_spark.index.build import IndexConfig, build_index, load_manifest
    from lucene_spark.index.merge import merge_index
    from lucene_spark.query.search import IndexSearcher

    index_dir = _index_dir_for(sf_dir) + "_tsorted"
    m = load_manifest(index_dir)
    if m is None or not m.get("merged"):
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        tdf = docs.select(
            F.lpad(F.col("doc_id").cast("string"), 12, "0").alias("conv_id"),
            F.lit(0).cast("int").alias("turn_idx"),
            F.lit("doc").alias("role"),
            F.col("text"),
            F.lit(None).cast("string").alias("tool"),
            F.timestamp_seconds(
                F.lit(1767225600)
                + F.pmod(F.col("doc_id").cast("long") * 37, F.lit(97)) * 3600
            ).alias("ts"),
        )
        cfg = IndexConfig(num_segments=4, term_buckets=8, hot_term_df=4096,
                          analyzer="simple", index_sort="ts")
        build_index(spark, tdf, index_dir, cfg)
        merge_index(spark, index_dir)
    return IndexSearcher(spark, index_dir)


def _sorted_indexed_df(spark, sf_dir):
    """search_sorted through the EARLY-TERMINATING path (sort-congruent
    index): 'latest K matches by ts' — descending, so the tie-run extension
    runs too. Values must equal the exhaustive oracle's."""
    from lucene_spark.query.ast import TermQuery

    s = _tsorted_searcher(spark, sf_dir)
    out = s.search_sorted(TermQuery(_FACET_TERM), "ts", _SORT_K,
                          ascending=False)
    dm = s.docmap().select("doc_id", F.col("conv_id").cast("long").alias("orig_id"))
    return (
        out.join(dm, "doc_id")
        .select(
            F.col("orig_id").alias("doc_id"),
            F.pmod(F.col("orig_id") * 37, F.lit(97)).cast("int").alias("ts_key"),
            "score",
        )
        .orderBy(F.desc("ts_key"), F.asc("doc_id"))
    )


def _explain_df(spark, sf_dir):
    """explain() of the top-1 hit must reproduce the search score exactly
    (Weight#explain / CheckHits contract)."""
    from lucene_spark.query.ast import parse_query, rewrite_fixpoint

    s = _searcher(spark, sf_dir)
    q = rewrite_fixpoint(parse_query(json.dumps(_BM25_QUERIES["bm25_conj"])))
    top = s.search(q, 1).collect()
    if not top:
        return spark.createDataFrame([], "doc_id long, score float")
    doc = int(top[0]["doc_id"])
    ex = s.explain(q, doc)
    orig = int(
        s.docmap().filter(F.col("doc_id") == doc).select("conv_id").first()[0]
    )
    return spark.createDataFrame([(orig, float(ex["value"]))],
                                 "doc_id long, score float")


def _highlight_df(spark, sf_dir):
    """Whole-text highlight (window >= len): deterministic term tagging the
    SQL oracle replays with regexp_replace."""
    from lucene_spark.operators.highlight import highlight_hits
    from lucene_spark.query.ast import BooleanQuery, TermQuery

    s = _searcher(spark, sf_dir)
    q = BooleanQuery(must=[TermQuery(t) for t in _HL_TERMS])
    hits = s.search(q, _HL_K)
    src = _documents_as_transcripts(spark, sf_dir)
    hl = highlight_hits(s, hits, src, _HL_TERMS, window=1_000_000)
    return hl.select(
        F.col("conv_id").cast("long").alias("doc_id"), "score", "snippet"
    ).orderBy(F.desc("score"), F.asc("doc_id"))


def _offsets_searcher(spark, sf_dir):
    """Index with char offsets in the positions artifact
    (IndexOptions ..._AND_OFFSETS; IndexConfig.offsets=True)."""
    from lucene_spark.index.build import IndexConfig, build_index, load_manifest
    from lucene_spark.index.merge import merge_index
    from lucene_spark.query.search import IndexSearcher

    index_dir = _index_dir_for(sf_dir) + "_offsets"
    m = load_manifest(index_dir)
    if m is None or not m.get("merged"):
        tdf = _documents_as_transcripts(spark, sf_dir)
        cfg = IndexConfig(num_segments=4, term_buckets=8, hot_term_df=4096,
                          analyzer="simple", offsets=True)
        build_index(spark, tdf, index_dir, cfg)
        merge_index(spark, index_dir)
    return IndexSearcher(spark, index_dir)


def _highlight_offsets_df(spark, sf_dir):
    """Offset-backed highlighting: spans come from the stored char offsets,
    no regex re-scan; the oracle is the SAME regexp_replace twin as the
    regex path — equal iff the offsets are exact."""
    from lucene_spark.operators.highlight import highlight_hits_offsets
    from lucene_spark.query.ast import BooleanQuery, TermQuery

    s = _offsets_searcher(spark, sf_dir)
    q = BooleanQuery(must=[TermQuery(t) for t in _HL_TERMS])
    hits = s.search(q, _HL_K)
    src = _documents_as_transcripts(spark, sf_dir)
    hl = highlight_hits_offsets(s, hits, src, _HL_TERMS, window=1_000_000)
    return hl.select(
        F.col("conv_id").cast("long").alias("doc_id"), "score", "snippet"
    ).orderBy(F.desc("score"), F.asc("doc_id"))


_FVH_TERM = "scan"
_FVH_K = 5
_FVH_FRAG = 60
_FVH_MAXFRAGS = 2


def _highlight_fvh_df(spark, sf_dir):
    """FastVectorHighlighter analog: term-vector (positions+offsets
    artifact) backed fragments — greedy frag windows, boundary-scanned,
    WeightedFragList scoring, ScoreOrder selection. The single-term shape
    is fully SQL-expressible: the DuckDB twin replays the greedy window
    walk with a recursive CTE and the float32 weight/norm arithmetic."""
    from lucene_spark.operators.fvh import fvh_highlight_hits
    from lucene_spark.query.ast import TermQuery

    s = _offsets_searcher(spark, sf_dir)
    q = TermQuery(_FVH_TERM)
    hits = s.search(q, _FVH_K)
    src = _documents_as_transcripts(spark, sf_dir)
    hl = fvh_highlight_hits(
        s, hits, src, q, frag_char_size=_FVH_FRAG,
        max_num_fragments=_FVH_MAXFRAGS, weighted=True)
    return (
        hl.select(
            F.col("conv_id").cast("long").alias("doc_id"), "score",
            F.posexplode("fragments").alias("frag_idx", "fragment"))
        .orderBy(F.desc("score"), F.asc("doc_id"), F.asc("frag_idx"))
    )


_FVH_PHRASE = ("scan", "merge")


def _highlight_fvh_phrase_df(spark, sf_dir):
    """FastVectorHighlighter over a PHRASE query: FieldPhraseList's
    longest-phrase walk emits exact adjacency pairs whose adjacent
    positions merge into ONE tagged span (WeightedPhraseInfo
    Toffs merging, FieldPhraseList.java:242-258); the weighted frag
    boost sums BOTH terms' idf weights once per fragment. Fully
    SQL-replayable for a 2-term exact phrase."""
    from lucene_spark.operators.fvh import fvh_highlight_hits
    from lucene_spark.query.ast import PhraseQuery

    s = _offsets_searcher(spark, sf_dir)
    q = PhraseQuery(_FVH_PHRASE)
    hits = s.search(q, _FVH_K)
    src = _documents_as_transcripts(spark, sf_dir)
    hl = fvh_highlight_hits(
        s, hits, src, q, frag_char_size=_FVH_FRAG,
        max_num_fragments=_FVH_MAXFRAGS, weighted=True)
    return (
        hl.select(
            F.col("conv_id").cast("long").alias("doc_id"), "score",
            F.posexplode("fragments").alias("frag_idx", "fragment"))
        .orderBy(F.desc("score"), F.asc("doc_id"), F.asc("frag_idx"))
    )


def _highlight_unified_df(spark, sf_dir):
    """UnifiedHighlighter analog (WholeBreakIterator, maxPassages=1): the
    single whole-doc passage scored with PassageScorer's BM25-ish formula
    and formatted with DefaultPassageFormatter <b> tags — both replayed
    closed-form by the SQL twin (per-term tf from the token replay, exact
    float32 op order with one REAL cast per Java float boundary)."""
    from lucene_spark.operators.uhighlight import highlight_unified
    from lucene_spark.query.ast import BooleanQuery, TermQuery

    s = _offsets_searcher(spark, sf_dir)
    q = BooleanQuery(must=[TermQuery(t) for t in _HL_TERMS])
    hits = s.search(q, _HL_K)
    src = _documents_as_transcripts(spark, sf_dir)
    hl = highlight_unified(s, hits, src, _HL_TERMS, max_passages=1)
    return hl.select(
        F.col("conv_id").cast("long").alias("doc_id"), "score",
        "psg_score", "snippet"
    ).orderBy(F.desc("score"), F.asc("doc_id"))


def _highlight_unified_sentence_df(spark, sf_dir):
    """UnifiedHighlighter with the reference's DEFAULT break iterator
    (``BreakIterator.getSentenceInstance(Locale.ROOT)``, replayed from
    the local JDK's own state table — operators/uhighlight.py
    JdkSentenceBreakIterator). Rows-only: the JDK sentence DFA is not
    SQL-expressible; break positions are compiled-class fuzzed
    (tools/sentence_parity.py, 2x4010 cases 0 mismatches) and the
    passage pipeline is the fully-oracled highlight_unified machinery."""
    from lucene_spark.operators.uhighlight import highlight_unified
    from lucene_spark.query.ast import BooleanQuery, TermQuery

    s = _offsets_searcher(spark, sf_dir)
    q = BooleanQuery(must=[TermQuery(t) for t in _HL_TERMS])
    hits = s.search(q, _HL_K)
    src = _documents_as_transcripts(spark, sf_dir)
    hl = highlight_unified(s, hits, src, _HL_TERMS, max_passages=2,
                           break_iterator="sentence")
    return hl.select(
        F.col("conv_id").cast("long").alias("doc_id"), "score",
        "psg_score", "snippet"
    ).orderBy(F.desc("score"), F.asc("doc_id"))


def _payload_searcher(spark, sf_dir):
    """Index with per-occurrence float payloads (IndexConfig.payloads;
    DelimitedPayloadTokenFilter corpus synthesized deterministically:
    every token t annotated as t|((len(t) % 4) * 0.25 + 0.25))."""
    from lucene_spark.index.build import IndexConfig, build_index, load_manifest
    from lucene_spark.index.merge import merge_index
    from lucene_spark.operators.dedup import tokens_col
    from lucene_spark.query.search import IndexSearcher

    index_dir = _index_dir_for(sf_dir) + "_payload"
    m = load_manifest(index_dir)
    if m is None or not m.get("merged"):
        tdf = _documents_as_transcripts(spark, sf_dir)
        ann = tdf.withColumn(
            "text",
            F.array_join(
                F.transform(
                    tokens_col("text"),
                    lambda t: F.concat(
                        t, F.lit("|"),
                        ((F.length(t) % 4).cast("double") * 0.25 + 0.25)
                        .cast("string"),
                    ),
                ),
                " ",
            ),
        )
        cfg = IndexConfig(num_segments=4, term_buckets=8, hot_term_df=4096,
                          analyzer="whitespace_payload", payloads=True)
        build_index(spark, ann, index_dir, cfg)
        merge_index(spark, index_dir)
    return IndexSearcher(spark, index_dir)


def _payload_score_df(func):
    def run(spark, sf_dir):
        s = _payload_searcher(spark, sf_dir)
        res = s.payload_score("scan", 1_000_000_000, func=func)
        dm = s.docmap().select("doc_id", "conv_id")
        return (
            res.join(dm, "doc_id")
            .select(F.col("conv_id").cast("long").alias("doc_id"), "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )
    return run


def _delimited_tf_df(spark, sf_dir):
    """DelimitedTermFrequencyTokenFilter chain (``analysis-common/.../
    miscellaneous/DelimitedTermFrequencyTokenFilter.java``): corpus
    synthesized deterministically — every token t becomes t|((len(t)%3)+1)
    — and the whitespace_tf chain parses the tf back out; the custom tf
    feeds the posting freq AND the field length
    (``core/index/IndexingChain.java:1276``), index is DOCS_AND_FREQS
    (positions=False, the filter's contract)."""
    from lucene_spark.index.build import IndexConfig, build_index, load_manifest
    from lucene_spark.index.merge import merge_index
    from lucene_spark.operators.dedup import tokens_col
    from lucene_spark.query.ast import TermQuery
    from lucene_spark.query.search import IndexSearcher

    index_dir = _index_dir_for(sf_dir) + "_tf"
    m = load_manifest(index_dir)
    if m is None or not m.get("merged"):
        tdf = _documents_as_transcripts(spark, sf_dir)
        ann = tdf.withColumn(
            "text",
            F.array_join(
                F.transform(
                    tokens_col("text"),
                    lambda t: F.concat(
                        t, F.lit("|"),
                        ((F.length(t) % 3) + 1).cast("string"),
                    ),
                ),
                " ",
            ),
        )
        cfg = IndexConfig(num_segments=4, term_buckets=8, hot_term_df=4096,
                          analyzer="whitespace_tf", positions=False)
        build_index(spark, ann, index_dir, cfg)
        merge_index(spark, index_dir)
    s = IndexSearcher(spark, index_dir)
    hits = s.search(TermQuery("scan"), _QUERY_K)
    dm = s.docmap().select("doc_id", F.col("conv_id").cast("long").alias("orig_id"))
    return (
        hits.join(dm, "doc_id")
        .select(F.col("orig_id").alias("doc_id"), "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def _query_parser_df(spark, sf_dir):
    from lucene_spark.query.parser import QueryParser

    q = QueryParser("simple").parse(_PARSER_QUERY)
    return _multiterm_df(spark, sf_dir, q)


def _query_parser_fielded_df(spark, sf_dir):
    """Field routing: 'role:doc' targets the stored metadata column as a
    constant-score MUST clause (1.0f summed into the Boolean score) — the
    round-2 parser silently discarded the prefix."""
    from lucene_spark.query.parser import QueryParser

    s = _searcher(spark, sf_dir)
    q = QueryParser("simple").parse("scan AND role:doc")
    hits = s.search(q, _QUERY_K)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id")
    )


def _pruned_df(spark, sf_dir):
    s = _searcher(spark, sf_dir)
    hits = s.search_term_pruned(_FACET_TERM, _QUERY_K)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id")
    )


def _stored_fields_df(spark, sf_dir):
    from lucene_spark.query.ast import TermQuery

    s = _searcher(spark, sf_dir)
    out = s.search_with_fields(TermQuery(_FACET_TERM), 10)
    return out.select(
        F.col("conv_id").cast("long").alias("doc_id"),
        "score", "conv_id", "turn_idx", "role",
    )


def _append_searcher(spark: SparkSession, sf_dir: str):
    """Base index over the low half of the corpus + append_batch of the high
    half (NRT refresh analog); a re-opened searcher must answer over BOTH."""
    from lucene_spark.index.build import IndexConfig, build_index, load_manifest
    from lucene_spark.index.merge import merge_index
    from lucene_spark.query.search import IndexSearcher
    from lucene_spark.streaming.append import append_batch

    index_dir = _cache_dir(sf_dir, "documents_append_idx")
    m = load_manifest(index_dir)
    if m is None or not m.get("appended_entry_done"):
        import shutil
        shutil.rmtree(index_dir, ignore_errors=True)
        tdf = _documents_as_transcripts(spark, sf_dir)
        mx = tdf.agg(F.max(F.col("conv_id").cast("long"))).first()[0]
        split = int(mx) // 2
        base = tdf.filter(F.col("conv_id").cast("long") < split)
        tail = tdf.filter(F.col("conv_id").cast("long") >= split)
        cfg = IndexConfig(num_segments=4, term_buckets=8, hot_term_df=4096,
                          analyzer="simple")
        build_index(spark, base, index_dir, cfg)
        merge_index(spark, index_dir)
        append_batch(spark, tail, index_dir, batch_id=0)
        m = load_manifest(index_dir)
        m["appended_entry_done"] = True
        from lucene_spark.index.build import write_manifest
        write_manifest(index_dir, m)
    return IndexSearcher(spark, index_dir)


_CUSTOM_K1, _CUSTOM_B = 0.9, 0.4
_CF_TERMS = ["scan", "merge"]
_CF_FIELDS = {"title": ("substring(text, 1, 80)", 2.0), "body": ("text", 1.0)}


def _cf_searcher(spark: SparkSession, sf_dir: str, field: str):
    """Per-field index for BM25F: same source ordering => same docIDs."""
    from lucene_spark.index.build import IndexConfig, build_index, load_manifest
    from lucene_spark.index.merge import merge_index
    from lucene_spark.query.search import IndexSearcher

    index_dir = _index_dir_for(sf_dir) + f"_cf_{field}"
    m = load_manifest(index_dir)
    if m is None or not m.get("merged"):
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        tdf = docs.select(
            F.lpad(F.col("doc_id").cast("string"), 12, "0").alias("conv_id"),
            F.lit(0).cast("int").alias("turn_idx"),
            F.lit("doc").alias("role"),
            F.expr(_CF_FIELDS[field][0]).alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.lit("2026-01-01 00:00:00").cast("timestamp").alias("ts"),
        )
        cfg = IndexConfig(num_segments=4, term_buckets=8, hot_term_df=4096,
                          analyzer="simple", positions=False)
        build_index(spark, tdf, index_dir, cfg)
        merge_index(spark, index_dir)
    return IndexSearcher(spark, index_dir)


def _combined_field_df(spark, sf_dir):
    """BM25F / CombinedFieldQuery analog: title (first 80 chars, weight 2)
    + body (full text, weight 1) scored as one merged pseudo-field."""
    from lucene_spark.query.combined import combined_field_search

    st = _cf_searcher(spark, sf_dir, "title")
    sb = _cf_searcher(spark, sf_dir, "body")
    hits = combined_field_search(
        spark,
        {"title": (st, _CF_FIELDS["title"][1]),
         "body": (sb, _CF_FIELDS["body"][1])},
        _CF_TERMS, _QUERY_K,
    )
    return _orig(sb, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id")
    )


def _custom_sim_df(spark, sf_dir):
    """BM25 with non-default k1/b (the pluggable-Similarity surface): same
    index, different norm-inverse cache; oracle replays the constants."""
    from lucene_spark.query.ast import parse_query, rewrite_fixpoint
    from lucene_spark.query.search import IndexSearcher

    base = _searcher(spark, sf_dir)
    s = IndexSearcher(spark, base.index_dir, k1=_CUSTOM_K1, b=_CUSTOM_B)
    q = rewrite_fixpoint(parse_query(json.dumps(_BM25_QUERIES["bm25_conj"])))
    hits = s.search(q, _QUERY_K)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id")
    )


_SIM_AST = {"bool": {"must": [{"term": "scan"}],
                     "should": [{"term": "merge", "boost": 1.7},
                                {"term": "dup"}]}}

_FACET_RANGES = [("xs", 0, 40), ("s", 40, 120), ("m", 120, 300),
                 ("l", 300, 100000), ("mid_overlap", 80, 200)]
_TV_DOC = 7
_FS_VALUE = "score * (1.0 + 10.0 / (10.0 + field_len))"


def _monitor_queries():
    from lucene_spark.query.ast import (
        BooleanQuery, BoostQuery, MatchAllDocsQuery, TermQuery,
    )
    return {
        "conj": BooleanQuery(must=[TermQuery("scan"), TermQuery("merge")]),
        "disj2": BooleanQuery(
            should=[TermQuery("scan"), TermQuery("merge"), TermQuery("dup")],
            min_should_match=2,
        ),
        "neg": BooleanQuery(must=[TermQuery("merge")],
                            must_not=[TermQuery("slow")]),
        "filt": BooleanQuery(must=[TermQuery("dup")],
                             filter=[TermQuery("table")]),
        "boosted": BoostQuery(TermQuery("query"), 3.0),
        "everything": MatchAllDocsQuery(),
    }


def _naive_bayes_df(spark, sf_dir):
    """SimpleNaiveBayesClassifier analog: every doc assigned its max-log-
    posterior lang learned from the labeled corpus (train = test)."""
    from lucene_spark.operators.classify import naive_bayes_classify

    d = _docs(spark, sf_dir)
    return naive_bayes_classify(d, d, label_col="lang").orderBy("doc_id")


def _confusion_matrix_df(spark, sf_dir):
    """ConfusionMatrixGenerator analog: (correct, classified) counts of
    the naive-Bayes classifier over the labeled corpus (train = test)."""
    from lucene_spark.operators.classify import confusion_matrix_counts

    d = _docs(spark, sf_dir)
    out = confusion_matrix_counts(d, d, label_col="lang")
    return out.select("correct", "classified",
                      F.col("count").cast("long").alias("count"))


def _confusion_metrics_df(spark, sf_dir):
    """Per-class precision/recall/F1 replaying ConfusionMatrix's exact
    formulas (tp==0 -> 0, harmonic F1 gated on both > 0)."""
    from lucene_spark.operators.classify import (confusion_matrix_counts,
                                                 confusion_metrics)

    d = _docs(spark, sf_dir)
    out = confusion_metrics(confusion_matrix_counts(d, d, label_col="lang"))
    return out.select("label", F.col("tp").cast("long").alias("tp"),
                      F.col("fp").cast("long").alias("fp"),
                      F.col("fn").cast("long").alias("fn"),
                      "precision", "recall", "f1")


def _dataset_split_df(spark, sf_dir):
    """DatasetSplitter analog: deterministic global-alternating 3-way
    split per class group (test 0.2 / cv 0.3)."""
    from lucene_spark.operators.classify import dataset_split

    d = _docs(spark, sf_dir).filter(F.col("lang").isNotNull())
    out = dataset_split(d, 0.2, 0.3, class_col="lang", order_col="doc_id")
    return out.select("doc_id", "split").orderBy("doc_id")


def _monitor_df(spark, sf_dir):
    """Monitor/percolator analog: which registered queries match each doc
    (presearcher term join + exact clause-presence evaluation)."""
    from lucene_spark.streaming.monitor import QueryMonitor

    mon = QueryMonitor(spark, _monitor_queries())
    return mon.match_batch(_docs(spark, sf_dir)).orderBy("doc_id", "query_id")


def _function_score_df(spark, sf_dir):
    """FunctionScoreQuery analog: BM25 matches re-scored by a doc-value
    expression (short docs boosted), double math + one float32 cast."""
    from lucene_spark.query.ast import parse_query, rewrite_fixpoint

    s = _searcher(spark, sf_dir)
    q = rewrite_fixpoint(parse_query(json.dumps(_BM25_QUERIES["bm25_conj"])))
    hits = s.function_score(q, _FS_VALUE, _QUERY_K)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id")
    )


def _facet_ranges_df(spark, sf_dir):
    """LongRangeFacetCounts analog: per-range hit counts over field_len
    (token count), overlapping ranges counted independently."""
    from lucene_spark.query.ast import parse_query, rewrite_fixpoint

    s = _searcher(spark, sf_dir)
    q = rewrite_fixpoint(parse_query(json.dumps(_BM25_QUERIES["bm25_conj"])))
    return s.facet_ranges(q, "field_len", _FACET_RANGES).orderBy("label")


def _facet_histogram_df(spark, sf_dir):
    """HistogramCollector analog: matching-doc counts per
    floorDiv(field_len, 4) bucket (sandbox/facet/plain/histograms)."""
    from lucene_spark.query.ast import parse_query, rewrite_fixpoint

    s = _searcher(spark, sf_dir)
    q = rewrite_fixpoint(parse_query(json.dumps(_BM25_QUERIES["bm25_conj"])))
    return s.facet_histogram(q, "field_len", 4)


def _term_vector_df(spark, sf_dir):
    """TermVectors analog: one doc's (term, freq, positions) served from
    the positions table (positions joined to a string for hash compare)."""
    s = _searcher(spark, sf_dir)
    did = (
        s.docmap().filter(F.col("conv_id") == str(_TV_DOC).zfill(12))
        .select("doc_id").first()["doc_id"]
    )
    tv = s.term_vector(int(did))
    return tv.select(
        "term", "freq",
        F.array_join(F.col("positions").cast("array<string>"), " ").alias("positions"),
    ).orderBy("term")


def _similarity_df(spark, sf_dir, similarity: str):
    """Pluggable Similarity (``Similarity.java:98-164``): same index,
    scorer swapped — ClassicSimilarity (``ClassicSimilarity.java:44-71``)
    or BooleanSimilarity (``BooleanSimilarity.java:52-55``); the oracle
    replays the twin's float32 op order."""
    from lucene_spark.query.ast import parse_query, rewrite_fixpoint
    from lucene_spark.query.search import IndexSearcher

    base = _searcher(spark, sf_dir)
    s = IndexSearcher(spark, base.index_dir, similarity=similarity)
    q = rewrite_fixpoint(parse_query(json.dumps(_SIM_AST)))
    hits = s.search(q, _QUERY_K)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id")
    )


def _classic_sim_df(spark, sf_dir):
    return _similarity_df(spark, sf_dir, "classic")


def _boolean_sim_df(spark, sf_dir):
    return _similarity_df(spark, sf_dir, "boolean")


def _sweetspot_sim_df(spark, sf_dir):
    """SweetSpotSimilarity (misc/SweetSpotSimilarity.java) with the
    SWEETSPOT_DEMO factors — plateau lengthNorm live on this corpus's
    dl spread, baselineTf flat below min (duck-typed Similarity slot)."""
    from lucene_spark.functions.similarity import SWEETSPOT_DEMO, SweetSpotSim

    return _similarity_df(spark, sf_dir, SweetSpotSim(*SWEETSPOT_DEMO))


def _sweetspot_hyper_df(spark, sf_dir):
    """SweetSpotSimilarity with the hyperbolicTf tf function
    (misc/SweetSpotSimilarity.java:160-179, default hyper factors) —
    live on this corpus's 1..~30 tf spread around the xoffset=10
    midpoint."""
    from lucene_spark.functions.similarity import SWEETSPOT_DEMO, SweetSpotSim

    sim = SweetSpotSim(*SWEETSPOT_DEMO[:3], tf_mode="hyperbolic")
    return _similarity_df(spark, sf_dir, sim)


#: SimilarityBase-family entries (functions/simbase.py): the same shared
#: index scored under each stats-based model; every config is
#: compiled-parity fuzzed (tools/sim_parity.py, 40k cases bit-exact) and
#: the oracle replays the exact double pipeline with one REAL cast
#: (plans/sqlgen.py _stats_sim_leaf_score)
_STATS_SIM_SPECS = (
    ("lm_dirichlet_topk", "lm_dirichlet"),
    ("lm_jelinek_mercer_topk", "lm_jelinek_mercer"),
    ("indri_dirichlet_topk", "indri_dirichlet"),
    ("dfi_chisquared_topk", "dfi_chisquared"),
    ("axiomatic_f1log_topk", "axiomatic_f1log"),
    ("axiomatic_f2exp_topk", "axiomatic_f2exp"),
    ("axiomatic_f3exp_topk", "axiomatic_f3exp"),
    ("dfr_sim_topk", "dfr"),
    ("ib_sim_topk", "ib_ll_ttf_h1"),
    ("raw_tf_topk", "raw_tf"),
)


def _stats_sim_entry(spec: str):
    def run(spark, sf_dir):
        return _similarity_df(spark, sf_dir, spec)
    run.__doc__ = (
        f"SimilarityBase family, config {spec!r} "
        "(core/search/similarities; see functions/simbase.py)")
    return run


#: SimpleQueryParser entry (queryparser/simple/SimpleQueryParser.java):
#: the human-friendly syntax parsed by query/simpleparser.py (state
#: machine fuzz-verified tree-for-tree vs the compiled reference class,
#: tools/simpleqp_parity.py) — this string exercises +, |, a phrase and
#: a trailing-* prefix, producing the right-leaning
#: {SHOULD [bool(MUST scan, MUST merge), "scan merge", mer*]} tree
_SIMPLE_QP_QUERY = 'scan + merge | "scan merge" | mer*'


def _simple_qp_df(spark, sf_dir):
    """SimpleQueryParser over the shared index: parse + search; the
    oracle combines the three children with the SHOULD double-sum fold
    (sqlgen.should_sum_sql)."""
    from lucene_spark.functions.analysis import analyze_one_chain
    from lucene_spark.query.simpleparser import SimpleQueryParser

    s = _searcher(spark, sf_dir)
    p = SimpleQueryParser(
        analyze=lambda t: analyze_one_chain(t, "simple")[0])
    hits = s.search(p.parse(_SIMPLE_QP_QUERY), _QUERY_K)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id")
    )


#: drill-sideways dimensions over docmap expressions: (name, expr,
#: drill values) — AND across dims, OR within a dim, FILTER occur
def _DRILL_DIMS():
    return [
        ("len8", F.expr("field_len div 8"), ["2", "3"]),
        ("len3", F.expr("field_len % 3"), ["1"]),
    ]


def _drill_down_df(spark, sf_dir):
    """DrillDownQuery (facet/DrillDownQuery.java): base term query +
    FILTER dims — hits keep base scores."""
    from lucene_spark.query.ast import TermQuery

    s = _searcher(spark, sf_dir)
    out = s.drill_down(TermQuery(_FACET_TERM), _DRILL_DIMS(), _QUERY_K)
    return _orig(s, out).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id"))


def _drill_sideways_df(spark, sf_dir):
    """DrillSideways (facet/DrillSideways.java): per-dim counts with all
    OTHER dims' drill-downs applied."""
    from lucene_spark.query.ast import TermQuery

    s = _searcher(spark, sf_dir)
    return s.drill_sideways(TermQuery(_FACET_TERM), _DRILL_DIMS())


def _facet_long_values_df(spark, sf_dir):
    """LongValueFacetCounts (facet/LongValueFacetCounts.java):
    per-long-value hit counts."""
    from lucene_spark.query.ast import TermQuery

    s = _searcher(spark, sf_dir)
    return s.facet_long_values(TermQuery(_FACET_TERM), "field_len")


def _all_groups_df(spark, sf_dir):
    """AllGroupsCollector (grouping/AllGroupsCollector.java): distinct
    group values among matches."""
    from lucene_spark.query.ast import TermQuery

    s = _searcher(spark, sf_dir)
    return s.all_groups(TermQuery(_FACET_TERM), F.expr("field_len % 5"))


def _distinct_values_df(spark, sf_dir):
    """DistinctValuesCollector (grouping/DistinctValuesCollector.java):
    top groups by head hit, then per-group distinct counts."""
    from lucene_spark.query.ast import TermQuery

    s = _searcher(spark, sf_dir)
    return s.distinct_values(
        TermQuery(_FACET_TERM), F.expr("field_len div 8"),
        F.expr("field_len % 4"), top_groups=8)


def _grouped_range_df(spark, sf_dir):
    """LongRangeGroupSelector/LongRangeFactory (grouping/LongRange
    Factory.java): top-k per fixed-width bin incl. the below-min /
    above-max catch-alls."""
    from lucene_spark.query.ast import TermQuery

    s = _searcher(spark, sf_dir)
    return s.search_grouped_range(
        TermQuery(_FACET_TERM), "field_len", lo=8, width=8, hi=32,
        k_per_group=2)


def _grouped_facets_df(spark, sf_dir):
    """GroupFacetCollector (grouping/GroupFacetCollector.java): facet
    counts counting each group once per value."""
    from lucene_spark.query.ast import TermQuery

    s = _searcher(spark, sf_dir)
    return s.grouped_facet_counts(
        TermQuery(_FACET_TERM), F.expr("field_len % 7"),
        F.expr("field_len div 8"))


#: DoubleRange inclusive-flag combos live on the corpus dl spread
_DRANGES = [("mid_in", 8.0, True, 16.0, True),
            ("mid_ex", 8.0, False, 24.0, False),
            ("low", 0.0, True, 12.0, False)]


def _double_ranges_df(spark, sf_dir):
    """DoubleRangeFacetCounts (facet/range/DoubleRange.java): overlapping
    double ranges with min/maxInclusive flags."""
    from lucene_spark.query.ast import TermQuery

    s = _searcher(spark, sf_dir)
    return s.facet_double_ranges(TermQuery(_FACET_TERM), "field_len",
                                 _DRANGES)


def _dynamic_ranges_df(spark, sf_dir):
    """DynamicRangeUtil (facet/range/DynamicRangeUtil.java): equal-weight
    dynamic ranges (unit weights -> count-balanced buckets)."""
    from lucene_spark.query.ast import TermQuery

    s = _searcher(spark, sf_dir)
    return s.facet_dynamic_ranges(TermQuery(_FACET_TERM), "field_len",
                                  top_n=5)


#: surround query-language entries (queryparser/surround; see
#: query/surround.py — parser fuzzed tree-for-tree vs the compiled
#: reference, tools/surround_parity.py, 30k cases)
def _surround_entry(query_string: str):
    def run(spark, sf_dir):
        s = _searcher(spark, sf_dir)
        out = s.search_surround(query_string, _QUERY_K)
        return _orig(s, out).select("doc_id", "score").orderBy(
            F.desc("score"), F.asc("doc_id"))
    run.__doc__ = f"surround syntax: {query_string!r}"
    return run


#: range-on-range: doc range = [fl, fl + fl % 5]; three query ranges
_ROR_RANGES = [("low", 0, 12), ("mid", 13, 25), ("wide", 5, 60)]


def _range_on_range_df(spark, sf_dir):
    """RangeOnRangeFacetCounts (facet/rangeonrange/): INTERSECTS counts
    of the doc range [fl, fl + fl % 5] vs three query ranges."""
    from lucene_spark.query.ast import TermQuery

    s = _searcher(spark, sf_dir)
    return s.facet_range_on_range(
        TermQuery(_FACET_TERM), F.col("field_len"),
        F.expr("field_len + field_len % 5"), _ROR_RANGES,
        query_type="intersects")


#: facet sets: two 2-dim sets per doc; one exact + one range matcher
def _facet_sets_df(spark, sf_dir):
    """MatchingFacetSetsCounts (facet/facetset/): per-set match counting
    over two derived 2-dim sets per doc."""
    from lucene_spark.query.ast import TermQuery

    s = _searcher(spark, sf_dir)
    return s.facet_matching_sets(
        TermQuery(_FACET_TERM),
        sets=[(F.expr("field_len % 4"), F.expr("field_len div 8")),
              (F.expr("field_len % 3"), F.expr("field_len div 4"))],
        matchers=[("exact_1_2", "exact", (1, 2)),
                  ("rng", "range", [(0, 2), (1, 3)])])


def _complex_phrase_df(spark, sf_dir):
    """ComplexPhraseQueryParser (queryparser/complexPhrase): classic
    syntax with an alternatives group inside the phrase; the slop=0
    phrase expands to MultiPhraseQuery and composes under AND."""
    s = _searcher(spark, sf_dir)
    out = s.search_complex_phrase(
        'scan AND "(merge table) scan"', _QUERY_K)
    return _orig(s, out).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id"))


_PARENT_AST = {"bool": {"must": [{"term": "scan"}], "should": [{"term": "merge"}]}}
_PARENT_K, _PARENT_CHUNK = 15, 20


def _parent_searcher(spark: SparkSession, sf_dir: str):
    """Index where each document is split into 20-token child 'turns' —
    the parent/child block structure for the join-module entry."""
    from lucene_spark.index.build import IndexConfig, build_index, load_manifest
    from lucene_spark.index.merge import merge_index
    from lucene_spark.query.search import IndexSearcher

    index_dir = _index_dir_for(sf_dir) + "_turns"
    m = load_manifest(index_dir)
    if m is None or not m.get("merged"):
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
        n_chunks = F.greatest(
            F.ceil(F.size(toks) / F.lit(_PARENT_CHUNK)), F.lit(1)
        ).cast("int")
        tdf = (
            docs.select(F.col("doc_id"), toks.alias("toks"), n_chunks.alias("nc"))
            .select(
                "doc_id", "toks",
                F.explode(F.sequence(F.lit(0), F.col("nc") - 1)).alias("turn_idx"),
            )
            .select(
                F.lpad(F.col("doc_id").cast("string"), 12, "0").alias("conv_id"),
                F.col("turn_idx").cast("int"),
                F.lit("doc").alias("role"),
                F.array_join(
                    F.slice(F.col("toks"),
                            F.col("turn_idx") * _PARENT_CHUNK + 1,
                            _PARENT_CHUNK),
                    " ",
                ).alias("text"),
                F.lit(None).cast("string").alias("tool"),
                F.lit("2026-01-01 00:00:00").cast("timestamp").alias("ts"),
            )
        )
        cfg = IndexConfig(num_segments=4, term_buckets=8, hot_term_df=4096,
                          analyzer="simple", positions=False)
        build_index(spark, tdf, index_dir, cfg)
        merge_index(spark, index_dir)
    return IndexSearcher(spark, index_dir)


def _parent_join_df(spark, sf_dir):
    """ToParentBlockJoinQuery analog: child (turn) BM25 hits aggregated to
    conversations with ScoreMode.Max."""
    from lucene_spark.query.ast import parse_query, rewrite_fixpoint

    s = _parent_searcher(spark, sf_dir)
    q = rewrite_fixpoint(parse_query(json.dumps(_PARENT_AST)))
    out = s.search_parents(q, _PARENT_K, score_mode="max")
    return out.select(
        F.col("conv_id").cast("long").alias("doc_id"), "score"
    ).orderBy(F.desc("score"), F.asc("doc_id"))


_DELETE_MOD, _DELETE_REM = 7, 3


def _deleted_searcher(spark: SparkSession, sf_dir: str):
    """Fresh index copy with docs (doc_id % 7 == 3) tombstoned — the
    PendingDeletes entry (stats keep counting deleted docs until merge, so
    survivor scores are identical; the oracle filters ids only)."""
    from lucene_spark.index.build import IndexConfig, build_index, load_manifest
    from lucene_spark.index.deletes import delete_docs
    from lucene_spark.index.merge import merge_index
    from lucene_spark.query.search import IndexSearcher

    index_dir = _index_dir_for(sf_dir) + "_del"
    m = load_manifest(index_dir)
    if m is None or not m.get("has_deletes"):
        import shutil
        shutil.rmtree(index_dir, ignore_errors=True)
        tdf = _documents_as_transcripts(spark, sf_dir)
        cfg = IndexConfig(num_segments=4, term_buckets=8, hot_term_df=4096,
                          analyzer="simple", positions=False)
        build_index(spark, tdf, index_dir, cfg)
        merge_index(spark, index_dir)
        s0 = IndexSearcher(spark, index_dir)
        victims = s0.docmap().select(
            "doc_id", F.col("conv_id").cast("long").alias("orig")
        ).filter(F.pmod(F.col("orig"), F.lit(_DELETE_MOD)) == _DELETE_REM)
        delete_docs(spark, index_dir, victims.select("doc_id"))
    return IndexSearcher(spark, index_dir)


def _deletes_df_entry(spark, sf_dir):
    from lucene_spark.query.ast import TermQuery

    s = _deleted_searcher(spark, sf_dir)
    hits = s.search(TermQuery("scan"), _QUERY_K)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id")
    )


def _expunged_searcher(spark: SparkSession, sf_dir: str):
    """Index built fresh, tombstoned (doc_id % 7 == 3), then EXPUNGED:
    docIDs remapped densely, stats now exclude deleted docs — must equal a
    fresh build over the surviving corpus, which the oracle expresses as a
    filtered source table."""
    from lucene_spark.index.build import IndexConfig, build_index, load_manifest
    from lucene_spark.index.deletes import delete_docs, expunge_deletes
    from lucene_spark.index.merge import merge_index
    from lucene_spark.query.search import IndexSearcher

    index_dir = _index_dir_for(sf_dir) + "_expunged"
    m = load_manifest(index_dir)
    if m is None or not m.get("expunged"):
        import shutil
        shutil.rmtree(index_dir, ignore_errors=True)
        tdf = _documents_as_transcripts(spark, sf_dir)
        cfg = IndexConfig(num_segments=4, term_buckets=8, hot_term_df=4096,
                          analyzer="simple", positions=False)
        build_index(spark, tdf, index_dir, cfg)
        merge_index(spark, index_dir)
        s0 = IndexSearcher(spark, index_dir)
        victims = s0.docmap().select(
            "doc_id", F.col("conv_id").cast("long").alias("orig")
        ).filter(F.pmod(F.col("orig"), F.lit(_DELETE_MOD)) == _DELETE_REM)
        delete_docs(spark, index_dir, victims.select("doc_id"))
        expunge_deletes(spark, index_dir)
    return IndexSearcher(spark, index_dir)


def _expunged_df(spark, sf_dir):
    from lucene_spark.query.ast import TermQuery

    s = _expunged_searcher(spark, sf_dir)
    hits = s.search(TermQuery("scan"), _QUERY_K)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id")
    )


_SOFT_MOD, _SOFT_REM = 11, 5


def _soft_deleted_searcher(spark: SparkSession, sf_dir: str):
    """Soft-deletes entry (deletes.py soft_delete_docs — the
    SoftDeletesDirectoryReaderWrapper analog): docs with doc_id % 11 == 5
    are SOFT-tombstoned; the default reader excludes them exactly like
    hard tombstones (stats keep counting them until merge, so the oracle
    filters ids only), while they remain fully present in the index
    (retention-through-merge pytest-pinned in test_soft_deletes.py)."""
    from lucene_spark.index.build import IndexConfig, build_index, load_manifest
    from lucene_spark.index.deletes import soft_delete_docs
    from lucene_spark.index.merge import merge_index
    from lucene_spark.query.search import IndexSearcher

    index_dir = _index_dir_for(sf_dir) + "_softdel"
    m = load_manifest(index_dir)
    if m is None or not m.get("has_soft_deletes"):
        import shutil
        shutil.rmtree(index_dir, ignore_errors=True)
        tdf = _documents_as_transcripts(spark, sf_dir)
        cfg = IndexConfig(num_segments=4, term_buckets=8, hot_term_df=4096,
                          analyzer="simple", positions=False)
        build_index(spark, tdf, index_dir, cfg)
        merge_index(spark, index_dir)
        s0 = IndexSearcher(spark, index_dir)
        victims = s0.docmap().select(
            "doc_id", F.col("conv_id").cast("long").alias("orig")
        ).filter(F.pmod(F.col("orig"), F.lit(_SOFT_MOD)) == _SOFT_REM)
        soft_delete_docs(spark, index_dir, victims.select("doc_id"))
    return IndexSearcher(spark, index_dir)


def _soft_deletes_df(spark, sf_dir):
    from lucene_spark.query.ast import TermQuery

    s = _soft_deleted_searcher(spark, sf_dir)
    hits = s.search(TermQuery("scan"), _QUERY_K)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id")
    )


_UPDATE_MOD, _UPDATE_REM = 9, 4
_UPDATE_PREFIX = "refresh update "


def _updated_searcher(spark: SparkSession, sf_dir: str):
    """updateDocuments atomic replace (index/update.py — the
    ``IndexWriter.updateDocuments`` analog, IndexWriter.java:1488-1545):
    docs with doc_id % 9 == 4 are re-submitted with MODIFIED text
    ('refresh update ' prefixed) through ``update_docs`` (tombstone-by-key
    + new segment in ONE manifest commit), then expunged. Must equal a
    fresh build over the updated corpus, which the oracle expresses as a
    CASE-modified source table."""
    from lucene_spark.index.build import IndexConfig, build_index, load_manifest
    from lucene_spark.index.deletes import expunge_deletes
    from lucene_spark.index.merge import merge_index
    from lucene_spark.index.update import update_docs
    from lucene_spark.query.search import IndexSearcher

    index_dir = _index_dir_for(sf_dir) + "_updated"
    m = load_manifest(index_dir)
    if m is None or not m.get("expunged"):
        import shutil
        shutil.rmtree(index_dir, ignore_errors=True)
        tdf = _documents_as_transcripts(spark, sf_dir)
        cfg = IndexConfig(num_segments=4, term_buckets=8, hot_term_df=4096,
                          analyzer="simple", positions=False)
        build_index(spark, tdf, index_dir, cfg)
        merge_index(spark, index_dir)
        batch = tdf.filter(
            F.pmod(F.col("conv_id").cast("long"), F.lit(_UPDATE_MOD))
            == _UPDATE_REM
        ).withColumn("text", F.concat(F.lit(_UPDATE_PREFIX), F.col("text")))
        update_docs(spark, index_dir, batch,
                    key_cols=("conv_id", "turn_idx"), batch_id=1)
        expunge_deletes(spark, index_dir)
    return IndexSearcher(spark, index_dir)


def _updated_df(spark, sf_dir):
    from lucene_spark.query.ast import TermQuery

    s = _updated_searcher(spark, sf_dir)
    hits = s.search(TermQuery("scan"), _QUERY_K)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id")
    )


_DV_MOD, _DV_REM = 3, 1


def _dv_updated_searcher(spark: SparkSession, sf_dir: str):
    """updateDocValues entry (index/update.py update_doc_values — the
    IndexWriter.updateDocValues / BufferedUpdates analog): a NEW
    metadata column is added post-build WITHOUT reindexing
    (label = 'keep' iff doc_id % 3 == 1); scores must stay identical to
    the plain index (postings/norms untouched) while the new column
    filters — the oracle replays the label predicate on doc_id."""
    from lucene_spark.index.build import IndexConfig, build_index, load_manifest
    from lucene_spark.index.update import update_doc_values
    from lucene_spark.index.merge import merge_index
    from lucene_spark.query.search import IndexSearcher

    index_dir = _index_dir_for(sf_dir) + "_dvup"
    m = load_manifest(index_dir)
    if m is None or not m.get("merged") or int(m.get("generation", 0)) < 1:
        import shutil
        shutil.rmtree(index_dir, ignore_errors=True)
        tdf = _documents_as_transcripts(spark, sf_dir)
        cfg = IndexConfig(num_segments=4, term_buckets=8, hot_term_df=4096,
                          analyzer="simple", positions=False)
        build_index(spark, tdf, index_dir, cfg)
        merge_index(spark, index_dir)
        s0 = IndexSearcher(spark, index_dir)
        vals = s0.docmap().select("conv_id", "turn_idx").withColumn(
            "label",
            F.when(F.pmod(F.col("conv_id").cast("long"),
                          F.lit(_DV_MOD)) == _DV_REM,
                   F.lit("keep")).otherwise(F.lit("drop")))
        update_doc_values(spark, index_dir, vals)
    return IndexSearcher(spark, index_dir)


def _dv_update_df(spark, sf_dir):
    from lucene_spark.query.ast import (
        BooleanQuery, FieldEqualsQuery, TermQuery,
    )

    s = _dv_updated_searcher(spark, sf_dir)
    q = BooleanQuery(must=[TermQuery("scan")],
                     filter=[FieldEqualsQuery("label", "keep")])
    hits = s.search(q, _QUERY_K)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id")
    )


def _snapshot_search_df(spark, sf_dir):
    """Point-in-time commit read (index/snapshot.py — the
    SnapshotDeletionPolicy + DirectoryReader.open(IndexCommit) analog):
    the index is snapshotted, then the LIVE index is tombstoned and
    EXPUNGED (the destructive rewrite-and-swap path); the entry searches
    the SNAPSHOT, which must still equal the full-corpus oracle —
    hard-linked commit files survive the swap."""
    from lucene_spark.index.build import IndexConfig, build_index, load_manifest
    from lucene_spark.index.deletes import delete_docs, expunge_deletes
    from lucene_spark.index.merge import merge_index
    from lucene_spark.index.snapshot import list_snapshots, snapshot_index
    from lucene_spark.query.ast import TermQuery
    from lucene_spark.query.search import IndexSearcher

    index_dir = _index_dir_for(sf_dir) + "_snapshotted"
    m = load_manifest(index_dir)
    tags = [s["tag"] for s in list_snapshots(index_dir)]
    if m is None or not m.get("expunged") or "pre_delete" not in tags:
        import shutil
        shutil.rmtree(index_dir, ignore_errors=True)
        shutil.rmtree(index_dir + ".snapshots", ignore_errors=True)
        tdf = _documents_as_transcripts(spark, sf_dir)
        cfg = IndexConfig(num_segments=4, term_buckets=8, hot_term_df=4096,
                          analyzer="simple", positions=False)
        build_index(spark, tdf, index_dir, cfg)
        merge_index(spark, index_dir)
        snapshot_index(spark, index_dir, "pre_delete")
        s0 = IndexSearcher(spark, index_dir)
        victims = s0.docmap().select(
            "doc_id", F.col("conv_id").cast("long").alias("orig")
        ).filter(F.pmod(F.col("orig"), F.lit(_DELETE_MOD)) == _DELETE_REM)
        delete_docs(spark, index_dir, victims.select("doc_id"))
        expunge_deletes(spark, index_dir)
    snap = [s for s in list_snapshots(index_dir) if s["tag"] == "pre_delete"]
    s = IndexSearcher(spark, snap[0]["path"])
    hits = s.search(TermQuery("scan"), _QUERY_K)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id")
    )


_SPLIT_AST = {"bool": {"must": [{"term": "merge"}],
                       "should": [{"term": "window"}]}}


def _split_search_df(spark, sf_dir):
    """MultiPassIndexSplitter analog end-to-end (index/splitter.py): the
    flat corpus index is hard-link-split into 2 sequential-range parts
    (complement tombstones + expunge per part — the reference's one
    rewrite pass per part), then recomposed with MultiIndexSearcher
    (composite stats), which must equal the FLAT single-index oracle
    bit-exactly."""
    from lucene_spark.index.build import IndexConfig, build_index, load_manifest
    from lucene_spark.index.merge import merge_index
    from lucene_spark.index.splitter import split_index
    from lucene_spark.query.ast import parse_query
    from lucene_spark.query.multi import MultiIndexSearcher

    base = _index_dir_for(sf_dir) + "_splitsrc"
    parts = [base + f"_part{i}" for i in range(2)]
    manifests = [load_manifest(p) for p in parts]
    if not all(m is not None and m.get("expunged") for m in manifests):
        import shutil
        for p in parts + [base]:
            shutil.rmtree(p, ignore_errors=True)
        tdf = _documents_as_transcripts(spark, sf_dir)
        cfg = IndexConfig(num_segments=4, term_buckets=8, hot_term_df=4096,
                          analyzer="simple", positions=False)
        build_index(spark, tdf, base, cfg)
        merge_index(spark, base)
        split_index(spark, base, parts, mode="seq")
    s = MultiIndexSearcher(spark, parts)
    return _hits_to_orig(
        s, s.search(parse_query(json.dumps(_SPLIT_AST)), _QUERY_K))


def _profile_df(spark, sf_dir):
    """Query profiler: per-leaf postings volume + per-operator doc counts
    for the mixed Boolean. ``blocks`` is an engine blocking artifact
    (segment-dependent), so the entry exposes the SQL-predictable columns;
    blocks is asserted in pytest instead."""
    s = _searcher(spark, sf_dir)
    from lucene_spark.query.ast import parse_query, rewrite_fixpoint
    q = rewrite_fixpoint(parse_query(json.dumps(_BM25_QUERIES["bm25_mixed"])))
    return s.profile(q).select("seq", "node", "detail", "docs", "ttf") \
        .orderBy("seq")


def _quality_avg_df(spark, sf_dir):
    """QualityStats.average analog: one row averaging the per-query stats
    over positively-judged queries, float64 sums folded in query order so
    the twin's ordered list_reduce is bit-identical."""
    from lucene_spark.operators.quality import quality_average
    return quality_average(_quality_df(spark, sf_dir))


_FM_PARAMS = ("field_len", "v % 7 = 3", 1.5, 20)   # FunctionMatchQuery
_FR_PARAMS = ("field_len", 40.0, 80.0, 20)          # FunctionRangeQuery


def _function_match_df(spark, sf_dir):
    """FunctionMatchQuery: docs whose value passes a DoublePredicate,
    constant score = boost."""
    s = _searcher(spark, sf_dir)
    value, pred, boost, k = _FM_PARAMS
    hits = s.function_match(value, pred, k=k, boost=boost)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id"))


def _function_range_df(spark, sf_dir):
    """FunctionRangeQuery: docs whose value lies in [lower, upper); the
    score IS the float32 value."""
    s = _searcher(spark, sf_dir)
    value, lo, hi, k = _FR_PARAMS
    hits = s.function_range(value, lower=lo, upper=hi,
                            include_upper=False, k=k)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id"))


def _bp_searcher(spark: SparkSession, sf_dir: str):
    """Index built fresh, merged, then BP-REORDERED (recursive graph
    bisection, ``misc/index/BPIndexReorderer.java`` analog in
    index/bp.py): docIDs are permuted within their segment ranges and
    every postings/positions/docmap table is rewritten executor-side.
    Collection/term stats are untouched, so scores are IDENTICAL to the
    un-reordered build — the oracle is the plain top-k SQL."""
    from lucene_spark.index.bp import reorder_index
    from lucene_spark.index.build import IndexConfig, build_index, load_manifest
    from lucene_spark.index.merge import merge_index
    from lucene_spark.query.search import IndexSearcher

    index_dir = _index_dir_for(sf_dir) + "_bp"
    m = load_manifest(index_dir)
    if m is None or not m.get("bp_reordered"):
        import shutil
        shutil.rmtree(index_dir, ignore_errors=True)
        tdf = _documents_as_transcripts(spark, sf_dir)
        cfg = IndexConfig(num_segments=4, term_buckets=8, hot_term_df=4096,
                          analyzer="simple", positions=False)
        build_index(spark, tdf, index_dir, cfg)
        merge_index(spark, index_dir)
        reorder_index(spark, index_dir, min_doc_freq=2,
                      min_partition_size=8)
    return IndexSearcher(spark, index_dir)


def _bp_df(spark, sf_dir):
    from lucene_spark.query.ast import TermQuery

    s = _bp_searcher(spark, sf_dir)
    hits = s.search(TermQuery("scan"), _QUERY_K)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id")
    )


#: TREC-style quality workload: 4 quality queries incl. a zero-result one
#: (q_none retrieves nothing but HAS judgments — the reference records a
#: zero QualityStats row). Relevance rule is corpus-derived and
#: engine-free: a doc is relevant for a query iff its raw text contains
#: the query's pivot word >= _QUALITY_TF times (substring count via the
#: length/replace identity — replayed verbatim in the DuckDB twin).
_QUALITY_ASTS = {
    "q_conj": {"bool": {"must": [{"term": "scan"}, {"term": "merge"}]}},
    "q_dup": {"term": "dup"},
    "q_none": {"term": "zzz-absent"},
    "q_scan": {"term": "scan"},
}
_QUALITY_REL = {"q_conj": "merge", "q_dup": "dup", "q_none": "scan",
                "q_scan": "scan"}
_QUALITY_TF = 3
_QUALITY_TOPK = 10


def _quality_df(spark, sf_dir):
    """QualityBenchmark analog: the whole quality workload in ONE batched
    postings scan, judged against corpus-derived qrels; per-query
    precision points / AvP / MRR / recall (QualityStats.java:26-127)."""
    from lucene_spark.operators.quality import quality_benchmark
    from lucene_spark.query.ast import parse_query, rewrite_fixpoint

    s = _searcher(spark, sf_dir)
    queries = {n: rewrite_fixpoint(parse_query(json.dumps(a)))
               for n, a in _QUALITY_ASTS.items()}
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    judgments = None
    for q in sorted(_QUALITY_REL):
        w = _QUALITY_REL[q]
        cnt = (F.length("text")
               - F.length(F.expr(f"replace(text, '{w}', '')"))) / len(w)
        part = docs.filter(cnt >= _QUALITY_TF).select(
            F.lit(q).alias("query"),
            F.lpad(F.col("doc_id").cast("string"), 12, "0").alias("doc_name"))
        judgments = part if judgments is None else judgments.unionByName(part)
    return quality_benchmark(s, queries, judgments, _QUALITY_TOPK)


_WORKLOAD = {
    "w_term": {"bool": {"must": [{"term": "dup"}]}},
    "w_conj": {"bool": {"must": [{"term": "scan"}, {"term": "merge"}]}},
    "w_msm": {"bool": {"should": [{"term": "scan"}, {"term": "hash"},
                                  {"term": "dup"}], "min_should_match": 2}},
}


def _search_many_df(spark, sf_dir):
    """Batched workload execution: ONE postings scan answers every query."""
    from lucene_spark.query.ast import parse_query, rewrite_fixpoint

    s = _searcher(spark, sf_dir)
    queries = {
        name: rewrite_fixpoint(parse_query(json.dumps(ast)))
        for name, ast in _WORKLOAD.items()
    }
    out = s.search_many(queries, _QUERY_K)
    dm = s.docmap().select("doc_id", F.col("conv_id").cast("long").alias("orig_id"))
    return (
        out.join(dm, "doc_id")
        .select("query", F.col("orig_id").alias("doc_id"), "score")
        .orderBy("query", F.desc("score"), F.asc("doc_id"))
    )


_STOP_AST = {"bool": {"must": [{"term": "scan"}], "should": [{"term": "merge"}]}}


def _stop_chain_df(spark, sf_dir):
    """BM25 over an index built with the simple_stop chain (StopFilter):
    stopwords are unindexed and excluded from field_len/avgdl, so scores
    shift vs the plain index — the SQL twin replays the same stop set."""
    from lucene_spark.query.ast import parse_query, rewrite_fixpoint

    s = _searcher(spark, sf_dir, analyzer="simple_stop")
    q = rewrite_fixpoint(parse_query(json.dumps(_STOP_AST)))
    hits = s.search(q, _QUERY_K)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id")
    )


_ENGLISH_AST = {"bool": {"must": [{"term": "merg"}], "should": [{"term": "valu"}]}}

#: the synthetic documents table's full (generator-fixed) vocabulary — lets
#: the DuckDB oracle replay the Porter stem as an embedded total mapping.
#: Drift guard: the hash compare only fires if a new word's stem collides
#: with the query terms, so tests/test_entries_contract.py additionally
#: asserts the corpus vocabulary == this list.
_DOC_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _english_chain_df(spark, sf_dir):
    """BM25 over an index built with the full EnglishAnalyzer chain
    (possessive strip + StopFilter + Porter stem — EnglishAnalyzer.java:
    108-115). Query terms are the STEMMED forms ('merg', 'valu'): TermQuery
    takes analyzed terms (Lucene semantics), and these are only reachable
    through the stemmer. The SQL twin replays stop + stem via
    plans/sqlgen.py vocab_map — exact on this corpus because the documents
    vocabulary is fixed/punctuation-free, so the standard tokenizer and the
    oracle's [a-z0-9]+ extraction agree token-for-token."""
    from lucene_spark.query.ast import parse_query, rewrite_fixpoint

    s = _searcher(spark, sf_dir, analyzer="english")
    q = rewrite_fixpoint(parse_query(json.dumps(_ENGLISH_AST)))
    hits = s.search(q, _QUERY_K)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id")
    )


#: language-chain probes — query terms are the ANALYZED (stemmed) forms,
#: reachable only through each chain's transform
_FRENCH_AST = {"bool": {"must": [{"term": "filt"}], "should": [{"term": "custom"}]}}
_GERMAN_AST = {"bool": {"must": [{"term": "merg"}], "should": [{"term": "tabl"}]}}
_SPANISH_AST = {"bool": {"must": [{"term": "tabl"}], "should": [{"term": "valu"}]}}
#: the Italian light stemmer rewrites none of this ASCII corpus's vocab
#: (len>=6 + vowel ending required) — the entry exercises the chain's STOP
#: discipline ('a' is an Italian stopword, so norms/field_len shift);
#: elision + stemming are pinned in tests/test_stemmers.py
_ITALIAN_AST = {"bool": {"must": [{"term": "scan"}], "should": [{"term": "merge"}]}}
_PORTUGUESE_AST = {"bool": {"must": [{"term": "tabl"}], "should": [{"term": "merg"}]}}
#: russian: Cyrillic-only suffix rules and stopwords — identity on this
#: ASCII corpus (real Russian text pinned in tests/test_stemmers.py); the
#: entry validates the chain plumbs through unchanged
_RUSSIAN_AST = {"bool": {"must": [{"term": "scan"}], "should": [{"term": "merge"}]}}
_SWEDISH_AST = {"bool": {"must": [{"term": "filt"}], "should": [{"term": "tabl"}]}}
_NORWEGIAN_AST = {"bool": {"must": [{"term": "filt"}], "should": [{"term": "sca"}]}}
_FINNISH_AST = {"bool": {"must": [{"term": "merg"}], "should": [{"term": "sor"}]}}
_HUNGARIAN_AST = {"bool": {"must": [{"term": "tabl"}], "should": [{"term": "stre"}]}}
_CZECH_AST = {"bool": {"must": [{"term": "filtr"}], "should": [{"term": "merg"}]}}
#: bulgarian: Cyrillic-only rules and stopwords — identity on this ASCII
#: corpus (real Bulgarian text pinned in tests/test_stemmers.py); same
#: plumb-through validation as russian
_BULGARIAN_AST = {"bool": {"must": [{"term": "scan"}], "should": [{"term": "merge"}]}}
_LATVIAN_AST = {"bool": {"must": [{"term": "tabl"}], "should": [{"term": "stre"}]}}
#: indonesian/greek: no ASCII-corpus rewrites (syllable guards / Greek-only
#: rules) — plumb-through validation like russian/bulgarian; real text
#: pinned in tests/test_stemmers.py
_INDONESIAN_AST = {"bool": {"must": [{"term": "filter"}], "should": [{"term": "scan"}]}}
_GREEK_AST = {"bool": {"must": [{"term": "merge"}], "should": [{"term": "table"}]}}
#: arabic/persian/hindi/bengali/sorani: script-specific rules — identity
#: on this ASCII corpus (real text pinned in tests/test_stemmers.py)
_ARABIC_AST = {"bool": {"must": [{"term": "scan"}], "should": [{"term": "filter"}]}}
_PERSIAN_AST = {"bool": {"must": [{"term": "merge"}], "should": [{"term": "hash"}]}}
_HINDI_AST = {"bool": {"must": [{"term": "table"}], "should": [{"term": "sort"}]}}
_BENGALI_AST = {"bool": {"must": [{"term": "query"}], "should": [{"term": "join"}]}}
_SORANI_AST = {"bool": {"must": [{"term": "group"}], "should": [{"term": "row"}]}}
#: cjk: width-fold + bigram are identity on this ASCII corpus, but the
#: 35-word CJK stop list (incl. "s"/"t"/"www") is live; real CJK text
#: pinned in tests/test_cjk.py
_CJK_AST = {"bool": {"must": [{"term": "index"}], "should": [{"term": "batch"}]}}
#: brazilian/galician: the stems ARE live on this corpus (filter->filt,
#: merge->merg / table->tabl, stream->str)
_BRAZILIAN_AST = {"bool": {"must": [{"term": "filt"}], "should": [{"term": "merg"}]}}
_GALICIAN_AST = {"bool": {"must": [{"term": "tabl"}], "should": [{"term": "str"}]}}
_PT_RSLP_AST = {"bool": {"must": [{"term": "merg"}], "should": [{"term": "vec"}]}}
_DANISH_AST = {"bool": {"must": [{"term": "ord"}], "should": [{"term": "smal"}]}}
#: polish (stempel): 'ć' is the stem of BOTH 'query' and 'value' on this
#: corpus (trie patch-commands collide them) — the must term exercises the
#: df-merging the collision causes; 'liny' = stem('line')
_POLISH_AST = {"bool": {"must": [{"term": "ć"}], "should": [{"term": "liny"}]}}
#: snowball analyzer-default chains; hy/et/ru are script-specific ->
#: identity on this ASCII corpus (real text pinned in tests)
_SNOWBALL_ASTS = {
    "dutch": {"bool": {"must": [{"term": "merg"}], "should": [{"term": "tabl"}]}},
    "romanian": {"bool": {"must": [{"term": "dat"}], "should": [{"term": "valu"}]}},
    "catalan": {"bool": {"must": [{"term": "custom"}], "should": [{"term": "filt"}]}},
    "basque": {"bool": {"must": [{"term": "mer"}], "should": [{"term": "tab"}]}},
    "armenian": {"bool": {"must": [{"term": "scan"}], "should": [{"term": "row"}]}},
    "estonian": {"bool": {"must": [{"term": "hash"}], "should": [{"term": "key"}]}},
    "lithuanian": {"bool": {"must": [{"term": "quer"}], "should": [{"term": "spar"}]}},
    "swedish_snowball": {"bool": {"must": [{"term": "filt"}], "should": [{"term": "ord"}]}},
    "norwegian_snowball": {"bool": {"must": [{"term": "custom"}], "should": [{"term": "lin"}]}},
    "russian_snowball": {"bool": {"must": [{"term": "join"}], "should": [{"term": "sort"}]}},
    "finnish_snowball": {"bool": {"must": [{"term": "colum"}], "should": [{"term": "smal"}]}},
    "hungarian_snowball": {"bool": {"must": [{"term": "colu"}], "should": [{"term": "jo"}]}},
    # turkish/irish carry per-chain LOWERCASE (identity on this
    # lowercase corpus; the dotless-I / hyphenation behavior is pinned
    # in tests/test_snowball.py)
    "turkish": {"bool": {"must": [{"term": "da"}], "should": [{"term": "l"}]}},
    "irish": {"bool": {"must": [{"term": "te"}], "should": [{"term": "scan"}]}},
    # kstem: dictionary-driven — identity on this corpus vocab (every
    # word is a KStem head word); EN stops live; real morphology pinned
    # in tests/test_stemmers.py
    "english_kstem": {"bool": {"must": [{"term": "window"}], "should": [{"term": "vector"}]}},
    # serbian: the Snowball stemmer is LIVE on latin-script corpus words
    # (merge->merg, line->lin); tamil/nepali/telugu rules touch only
    # their own scripts — identity plumb-through here, real behavior
    # compiled-class-fuzzed in tests/test_snowball.py
    "serbian": {"bool": {"must": [{"term": "merg"}], "should": [{"term": "lin"}]}},
    "tamil": {"bool": {"must": [{"term": "scan"}], "should": [{"term": "order"}]}},
    "nepali": {"bool": {"must": [{"term": "batch"}], "should": [{"term": "fast"}]}},
    "telugu": {"bool": {"must": [{"term": "join"}], "should": [{"term": "sort"}]}},
}


def _snowball_chain_entry(analyzer: str):
    def fn(spark, sf_dir):
        return _lang_chain_df(spark, sf_dir, analyzer, _SNOWBALL_ASTS[analyzer])
    return fn


def _lang_chain_df(spark, sf_dir, analyzer: str, ast: dict) -> DataFrame:
    """BM25 over an index built with a language analysis chain
    (functions/stemmers.py: FrenchAnalyzer elision+stop+minimal-stem /
    GermanAnalyzer stop+normalization+light-stem / SpanishAnalyzer
    stop+light-stem). The SQL twin replays stop + stem via the corpus
    vocab_map, exactly like bm25_english_chain."""
    from lucene_spark.query.ast import parse_query, rewrite_fixpoint

    s = _searcher(spark, sf_dir, analyzer=analyzer)
    q = rewrite_fixpoint(parse_query(json.dumps(ast)))
    hits = s.search(q, _QUERY_K)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id")
    )


#: classic: ClassicAnalyzer (jflex DFA tokenizer + ClassicFilter + EN
#: stops) — tokens equal the simple analyzer's on this [a-z0-9 ]-only
#: corpus, so the stop discipline is the live behavior here; the
#: email/host/acronym/NUM grammar is pinned against the COMPILED reference
#: scanner in tests/test_jflex.py (26k-string fuzz + 175 pinned goldens +
#: the reference's 643-URL/265-email fixtures)
_CLASSIC_AST = {"bool": {"must": [{"term": "merge"}], "should": [{"term": "scan"}]}}
#: uax29_urlemail: URL/email grammar is identity on this corpus (plumb-
#: through validation like russian/bulgarian); real URLs/emails pinned in
#: tests/test_jflex.py
_UAX29_AST = {"bool": {"must": [{"term": "value"}], "should": [{"term": "group"}]}}
#: thai: ThaiAnalyzer (functions/thaibreak.py — the JDK dictionary-based
#: break iterator replayed from bytecode + LowerCase + DecimalDigit + TH
#: stops). On this [a-z ]-only corpus the word breaker's letter-run tokens
#: equal the simple tokens and the all-Thai stop set never fires, so the
#: oracle is a plain plumb-through; the dictionary segmentation, digit
#: fold, stop order, and 1024-unit windowing are pinned against the
#: COMPILED reference ThaiTokenizer in tests/test_thai.py +
#: tools/thai_parity.py (6,500+ fuzzed streams, terms+offsets)
_THAI_AST = {"bool": {"must": [{"term": "window"}], "should": [{"term": "part"}]}}
#: japanese: JapaneseAnalyzer (functions/kuromoji.py — the Viterbi
#: lattice over runtime-loaded binary dictionaries + BaseForm + POS-stop
#: + ja stopwords + katakana stem + lower). On this [a-z0-9 ]-only corpus
#: the unknown-word ALPHA/NUMERIC grouping yields exactly the simple
#: tokens and the all-Japanese stop resources never fire, so the plain
#: oracle validates the full plumbing; Japanese segmentation itself is
#: pinned token-for-token against the compiled JapaneseTokenizer
#: (tools/kuromoji_parity.py, 2x3011 texts x 8 mode arms, 0 mismatches)
_JAPANESE_AST = {"bool": {"must": [{"term": "filter"}], "should": [{"term": "batch"}]}}
#: korean: KoreanAnalyzer (functions/nori.py — ko Viterbi lattice with
#: DISCARD decompounding + POS-stop + reading-form + lower). Same
#: plumb-through contract as japanese on this ASCII corpus; Korean
#: segmentation pinned against the compiled KoreanTokenizer
#: (tools/nori_parity.py, 2x2010 texts x 12 arms, 0 mismatches)
_KOREAN_AST = {"bool": {"must": [{"term": "row"}], "should": [{"term": "spark"}]}}


#: shingle chains (functions/shingle.py — ShingleFilter 2/2 + unigrams):
#: query terms are SHINGLES, reachable only through the filter; the stop
#: variant's must-term is a FILLER shingle ("merge _" = merge followed by
#: a stopword), exercising the gap->filler machinery live
_SHINGLE_AST = {"bool": {"must": [{"term": "merge scan"}],
                         "should": [{"term": "scan"}]}}
_SHINGLE_STOP_AST = {"bool": {"must": [{"term": "merge _"}],
                              "should": [{"term": "_ scan"}]}}


def _shingle_chain_df(spark, sf_dir):
    return _lang_chain_df(spark, sf_dir, "standard_shingle", _SHINGLE_AST)


def _shingle_stop_chain_df(spark, sf_dir):
    return _lang_chain_df(
        spark, sf_dir, "standard_stop_shingle", _SHINGLE_STOP_AST)


#: word_delimiter chains (functions/worddelim.py — WDGF over a whitespace
#: tokenizer): identity on this delimiter-free lowercase corpus
#: (plumb-through validation); splitting/catenation/possessive behavior is
#: pinned against the COMPILED reference class in tests/test_worddelim.py
#: (15k-case fuzz over all 512 flag combos + 148 pinned goldens)
_WDGF_AST = {"bool": {"must": [{"term": "sort"}], "should": [{"term": "line"}]}}
_WDGF_CAT_AST = {"bool": {"must": [{"term": "hash"}], "should": [{"term": "window"}]}}


#: ngram chains (functions/ngram.py): query terms are character GRAMS,
#: reachable only through the filter ("me" = an interior bigram; "merg" a
#: 4-char prefix)
_NGRAM_AST = {"bool": {"must": [{"term": "me"}], "should": [{"term": "sc"}]}}
_EDGE_NGRAM_AST = {"bool": {"must": [{"term": "merg"}],
                            "should": [{"term": "sca"}]}}


#: misc filter chains (functions/miscfilters.py). Scandinavian norm/fold:
#: identity on this digraph-free ASCII corpus (transform behavior
#: compiled-class-fuzzed in tests); length/keepword/truncate/reverse/
#: capitalize are LIVE here (stops or rewrites fire on the corpus vocab)
_SCAND_NORM_AST = {"bool": {"must": [{"term": "batch"}], "should": [{"term": "row"}]}}
_SCAND_FOLD_AST = {"bool": {"must": [{"term": "group"}], "should": [{"term": "key"}]}}
_LENGTH_AST = {"bool": {"must": [{"term": "merge"}], "should": [{"term": "big"}]}}
_KEEPWORD_AST = {"bool": {"must": [{"term": "merge"}], "should": [{"term": "hash"}]}}
_TRUNCATE_AST = {"bool": {"must": [{"term": "merg"}], "should": [{"term": "batc"}]}}
_REVERSE_AST = {"bool": {"must": [{"term": "egrem"}], "should": [{"term": "nacs"}]}}
_CAPITALIZE_AST = {"bool": {"must": [{"term": "Merge"}], "should": [{"term": "Scan"}]}}


def _misc_chain_entry(analyzer: str, ast: dict):
    def fn(spark, sf_dir):
        return _lang_chain_df(spark, sf_dir, analyzer, ast)
    return fn


#: common_grams (functions/commongrams.py): gram terms like "the_merge"
#: are reachable only through the filter; EN stops are LIVE on this corpus
_COMMON_GRAMS_AST = {"bool": {"must": [{"term": "the_merge"}],
                              "should": [{"term": "scan_a"}]}}

#: english_keyword_repeat (functions/miscfilters.py): stemmed copies
#: stack at posIncr 0 beside the protected originals — "merg" reachable
#: only via the stem, "table" only via the original
_KWREPEAT_AST = {"bool": {"must": [{"term": "merg"}],
                          "should": [{"term": "table"}]}}
#: whitespace_hyphenated: no hyphens in this corpus — identity
#: plumb-through (merge behavior pinned in tests); codepoint_count: DROP
#: tokens outside [2,6] codepoints (LIVE: 1-char and 7+-char vocab)
_HYPH_AST = {"bool": {"must": [{"term": "scan"}], "should": [{"term": "row"}]}}
_CPCOUNT_AST = {"bool": {"must": [{"term": "merge"}],
                         "should": [{"term": "join"}]}}


def _common_grams_chain_df(spark, sf_dir):
    return _lang_chain_df(spark, sf_dir, "common_grams", _COMMON_GRAMS_AST)


def _ngram_chain_df(spark, sf_dir):
    return _lang_chain_df(spark, sf_dir, "standard_ngram", _NGRAM_AST)


def _edge_ngram_chain_df(spark, sf_dir):
    return _lang_chain_df(
        spark, sf_dir, "standard_edge_ngram", _EDGE_NGRAM_AST)


def _wdgf_chain_df(spark, sf_dir):
    return _lang_chain_df(spark, sf_dir, "word_delimiter", _WDGF_AST)


def _wdgf_cat_chain_df(spark, sf_dir):
    return _lang_chain_df(
        spark, sf_dir, "word_delimiter_catenated", _WDGF_CAT_AST)


#: pattern package (functions/patterntok.py): split mode is the classic
#: Solr pattern-tokenizer config (== simple tokens on this corpus — the
#: multi-delimiter/tail semantics are pinned in tests/test_patterntok.py);
#: group mode indexes ONLY '\b(t[a-z]+)' extractions; capture stacks each
#: token's non-overlapping 3-char chunks at posIncr 0 (len-3 tokens
#: suppressed by the whole-token rule); replace rewrites vowel runs to
#: '_' so query terms are only reachable through the filter
_PAT_SPLIT_AST = {"bool": {"must": [{"term": "window"}],
                           "should": [{"term": "hash"}]}}
_PAT_GROUP_AST = {"bool": {"must": [{"term": "table"}],
                           "should": [{"term": "the"}]}}
_PAT_CAPTURE_AST = {"bool": {"must": [{"term": "mer"}],
                             "should": [{"term": "bat"}]}}
_PAT_REPLACE_AST = {"bool": {"must": [{"term": "m_rg_"}],
                             "should": [{"term": "sc_n"}]}}
#: path package: the index is built over the derived path '/w1/w2/w3'
#: (first three words) — forward indexes cumulative prefixes (facet-style
#: drill-down: everything under '/the'), reverse indexes domain-style
#: suffixes (everything ENDING in a component)
_PATH_AST = {"bool": {"must": [{"term": "/the"}],
                      "should": [{"term": "/the/fast"}]}}
_PATH_REV_AST = {"bool": {"must": [{"term": "key"}],
                          "should": [{"term": "fast/key"}]}}


#: charfilter layer (functions/charfilter.py): mapping rewrites qu->kw
#: pre-tokenization ("query" is only reachable as "kwery"); the
#: pattern-replace char filter DELETES the 5%-df word 'dup' before
#: tokenization, shifting dl and collection stats
_MAPPING_CHAR_AST = {"bool": {"must": [{"term": "kwery"}],
                              "should": [{"term": "merge"}]}}
_PRC_AST = {"bool": {"must": [{"term": "merge"}],
                     "should": [{"term": "scan"}]}}

#: htmlstrip chain (functions/htmlstrip.py — the jflex HTMLStripCharFilter
#: replay, compiled-parity fuzzed): the entry decorates every doc with a
#: deterministic HTML wrapper (block tags, <br>, an &amp;/&#66; entity run,
#: a <script> body, a comment), builds with analyzer="html_standard", and
#: the oracle predicts the stripped text in closed form ('&'/'<' in the raw
#: text are pre-blanked identically on both sides so the wrapper is the
#: only markup). "bradley" is reachable ONLY through entity decoding
#: (&#66;radley) + tag stripping.
_HTML_WRAP_PRE = '<div id="d"> '
_HTML_WRAP_SUF = (' </div><br><p>&amp; &#66;radley page</p>'
                  '<script>var q="</div>";</script><!-- note -->')
#: html_strip(PRE + clean + SUF) in closed form (jflex rule trace: div ->
#: '\n' substitute, br -> '\n', p -> '\n', entities decoded, script body
#: -> '\n', comment dropped)
_HTML_STRIPPED_SQL = (
    "chr(10) || ' ' || replace(replace(text, '&', ' '), '<', ' ') || ' ' ||"
    " chr(10) || chr(10) || chr(10) || '& Bradley page' || chr(10) || chr(10)"
)
_HTML_AST = {"bool": {"must": [{"term": "bradley"}],
                      "should": [{"term": "merge"}]}}


#: wikipedia chain (functions/wikipedia.py — the jflex WikipediaTokenizer
#: replay, compiled-parity fuzzed): the entry decorates every doc with a
#: deterministic wiki-markup wrapper (heading, bold, category, internal
#: link); every wrapper token carries posIncr 1, so the oracle is the
#: plain SIMPLE tokenization of the closed-form "rendered" text — "beta"
#: is reachable ONLY through internal-link markup consumption
_WIKI_WRAP_PRE = "== heading here == '''bold''' "
_WIKI_WRAP_SUF = " [[Category:catwiki]] [[alpha|beta]] end"
_WIKI_STRIPPED_SQL = "'heading here bold ' || text || ' catwiki alpha beta end'"
_WIKI_AST = {"bool": {"must": [{"term": "scan"}],
                      "should": [{"term": "beta"}]}}


def _wikipedia_chain_df(spark, sf_dir):
    """BM25 over an index built with the wikipedia chain
    (WikipediaTokenizer TOKENS_ONLY -> lower) on the markup-decorated
    corpus."""
    from lucene_spark.index.build import (
        IndexConfig, build_index, load_manifest,
    )
    from lucene_spark.index.merge import merge_index
    from lucene_spark.query.ast import parse_query, rewrite_fixpoint
    from lucene_spark.query.search import IndexSearcher

    index_dir = _index_dir_for(sf_dir) + "_wikipedia"
    m = load_manifest(index_dir)
    if m is None or not m.get("merged"):
        tdf = _documents_as_transcripts(spark, sf_dir).withColumn(
            "text",
            F.concat(F.lit(_WIKI_WRAP_PRE), F.col("text"),
                     F.lit(_WIKI_WRAP_SUF)))
        cfg = IndexConfig(num_segments=4, term_buckets=8, hot_term_df=4096,
                          analyzer="wikipedia")
        build_index(spark, tdf, index_dir, cfg)
        merge_index(spark, index_dir)
    s = IndexSearcher(spark, index_dir)
    q = rewrite_fixpoint(parse_query(json.dumps(_WIKI_AST)))
    hits = s.search(q, _QUERY_K)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id"))


def _htmlstrip_chain_df(spark, sf_dir):
    """BM25 over an index built with the html_standard chain
    (HTMLStripCharFilter -> standard tokenize -> lower) on the
    HTML-decorated corpus."""
    from lucene_spark.index.build import (
        IndexConfig, build_index, load_manifest,
    )
    from lucene_spark.index.merge import merge_index
    from lucene_spark.query.ast import parse_query, rewrite_fixpoint
    from lucene_spark.query.search import IndexSearcher

    index_dir = _index_dir_for(sf_dir) + "_html_standard"
    m = load_manifest(index_dir)
    if m is None or not m.get("merged"):
        tdf = _documents_as_transcripts(spark, sf_dir).withColumn(
            "text",
            F.concat(F.lit(_HTML_WRAP_PRE),
                     F.translate("text", "&<", "  "),
                     F.lit(_HTML_WRAP_SUF)))
        cfg = IndexConfig(num_segments=4, term_buckets=8, hot_term_df=4096,
                          analyzer="html_standard")
        build_index(spark, tdf, index_dir, cfg)
        merge_index(spark, index_dir)
    s = IndexSearcher(spark, index_dir)
    q = rewrite_fixpoint(parse_query(json.dumps(_HTML_AST)))
    hits = s.search(q, _QUERY_K)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id"))

#: sandbox/misc-search wave: CoveringQuery (per-doc minimumNumberMatch
#: LongValuesSource -> SQL expr over the metadata row), Diversified top-k
#: (per-key hit cap), DocValuesStats (stats over matching docs' values,
#: NULLs = the reference's missing counter), MultiRangeQuery (OR of
#: ranges, constant score). conv_id == zero-padded doc_id, so the engine
#: exprs over conv_id equal the oracle exprs over doc_id.
_COVERING_TERMS = ("merge", "scan", "value", "group")
_DIVERSIFIED_AST = {"bool": {"should": [{"term": "merge"},
                                        {"term": "scan"}]}}
_DVSTATS_AST = {"bool": {"must": [{"term": "merge"}]}}
_MULTI_RANGE_STR = (("000000000010", "000000000050"),
                    ("000000000040", "000000000090"),
                    (None, "000000000005"))


def _covering_df(spark, sf_dir):
    from lucene_spark.query.ast import TermQuery

    s = _searcher(spark, sf_dir)
    hits = s.search_covering(
        [TermQuery(t) for t in _COVERING_TERMS],
        "pmod(cast(conv_id as bigint), 3) + 1", _QUERY_K)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id"))


def _diversified_df(spark, sf_dir):
    from lucene_spark.query.ast import parse_query, rewrite_fixpoint

    s = _searcher(spark, sf_dir)
    q = rewrite_fixpoint(parse_query(json.dumps(_DIVERSIFIED_AST)))
    hits = s.search_diversified(
        q, "pmod(cast(conv_id as bigint), 37)", 2, _QUERY_K)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id"))


def _dv_stats_df(spark, sf_dir):
    from lucene_spark.query.ast import parse_query, rewrite_fixpoint

    s = _searcher(spark, sf_dir)
    q = rewrite_fixpoint(parse_query(json.dumps(_DVSTATS_AST)))
    return s.doc_values_stats(
        q, "nullif(pmod(cast(conv_id as bigint), 7), 0)")


def _phrase_wildcard_df(spark, sf_dir):
    """PhraseWildcardQuery (sandbox/search/PhraseWildcardQuery.java):
    exact phrase "merge s*" — the multi-term slot expands from the term
    dictionary (budget 128 > the live 's' vocabulary, so the oracle's
    LIKE-derived set is identical)."""
    from lucene_spark.query.ast import PrefixQuery

    s = _searcher(spark, sf_dir)
    hits = s.search_phrase_wildcard(["merge", PrefixQuery("s")], _QUERY_K)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id"))


def _term_automaton_query():
    """scan (ANY)? (merge|join) — branching dests + an ANY gap, so it runs
    the path-counting scorer (sandbox/search/TermAutomatonScorer.java),
    not a sausage rewrite."""
    from lucene_spark.query.termautomaton import TermAutomaton

    ta = TermAutomaton()
    s1, s2, acc = ta.create_state(), ta.create_state(), ta.create_state()
    ta.add_transition(0, s1, "scan")
    ta.add_any_transition(s1, s2)
    for s in (s1, s2):
        ta.add_transition(s, acc, "merge")
        ta.add_transition(s, acc, "join")
    ta.set_accept(acc, True)
    return ta.finish()


def _term_automaton_df(spark, sf_dir):
    s = _searcher(spark, sf_dir)
    hits = s.search_term_automaton(_term_automaton_query(), _QUERY_K)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id"))


def _multi_range_df(spark, sf_dir):
    s = _searcher(spark, sf_dir)
    hits = s.search_multi_range("conv_id", list(_MULTI_RANGE_STR), 25)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id"))


def _high_freq_terms_df(spark, sf_dir):
    """HighFreqTerms (misc/HighFreqTerms.java) over the default index —
    top-25 by doc_freq, both stats verified."""
    s = _searcher(spark, sf_dir)
    return s.high_freq_terms(25).select(
        "term",
        F.col("doc_freq").cast("long").alias("doc_freq"),
        F.col("total_term_freq").cast("long").alias("total_term_freq"))


_HIGH_FREQ_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents
)
SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq,
       CAST(count(*) AS BIGINT) AS total_term_freq
FROM toks GROUP BY term
ORDER BY doc_freq DESC, term DESC
LIMIT 25
""".strip()


#: CommonTermsQuery (queries/CommonTermsQuery.java): at mtf=0.1 the 5%-df
#: 'dup' classifies low (required) while merge+scan (~80% df) classify
#: high (optional scored) — the df-driven stopword-free alternative
_COMMON_TERMS = ("dup", "merge", "scan")
_COMMON_TERMS_MTF = 0.1


def _common_terms_df(spark, sf_dir):
    from lucene_spark.query.ast import rewrite_fixpoint
    from lucene_spark.query.commonterms import common_terms_query

    s = _searcher(spark, sf_dir)
    q = rewrite_fixpoint(common_terms_query(
        s, _COMMON_TERMS, _COMMON_TERMS_MTF))
    hits = s.search(q, _QUERY_K)
    dm = s.docmap().select(
        "doc_id", F.col("conv_id").cast("long").alias("orig_id"))
    return (
        hits.join(dm, "doc_id")
        .select(F.col("orig_id").alias("doc_id"), "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


#: FreeTextSuggester (suggest/analyzing/FreeTextSuggester.java — stupid-
#: backoff bigram LM): key "merge s" exercises the bigram pass (context
#: count = count('merge')), the 0.4-backoff unigram pass, and the
#: seen-last-token dedup between them
_FREETEXT_KEY = "merge s"


def _freetext_suggest_df(spark, sf_dir):
    from lucene_spark.operators.freetext import freetext_suggest

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return freetext_suggest(spark, docs, _FREETEXT_KEY, 10)


def _freetext_indexed_df(spark, sf_dir):
    """Persisted-model path: build the gram-table artifact once (range-
    sorted parquet + manifest totTokens), serve the lookup from it — must
    match the corpus-scan oracle exactly."""
    from lucene_spark.operators.freetext import (
        build_freetext_model, freetext_suggest_indexed,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    model_dir = _cache_dir(sf_dir, "freetext_model")
    build_freetext_model(spark, docs, model_dir)
    return freetext_suggest_indexed(spark, model_dir, _FREETEXT_KEY, 10)


_FREETEXT_SQL = """
WITH rawt AS (
  SELECT doc_id, unnest(toks) AS term, unnest(range(1, len(toks) + 1)) AS ord
  FROM (SELECT doc_id,
               regexp_extract_all(
                 replace(replace(lower(text), 'i̇', 'i'), 'ς', 'σ'),
                 '[a-z0-9]+') AS toks
        FROM documents)
),
uni AS (SELECT term AS gram, count(*) AS cnt FROM rawt GROUP BY term),
tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM uni),
ctx AS (SELECT CAST(cnt AS DOUBLE) AS c FROM uni WHERE gram = 'merge'),
big AS (
  SELECT prev || ' ' || term AS gram, count(*) AS cnt
  FROM (SELECT doc_id, term, ord,
               lag(term) OVER (PARTITION BY doc_id ORDER BY ord) AS prev
        FROM rawt)
  WHERE prev IS NOT NULL GROUP BY 1
),
bsel AS (SELECT gram, cnt FROM big WHERE gram LIKE 'merge s%'
         ORDER BY cnt DESC, gram ASC LIMIT 10),
bres AS (
  SELECT gram AS suggestion,
         CAST(trunc((CAST(9223372036854775807 AS DOUBLE) * CAST(1.0 AS DOUBLE))
              * CAST(cnt AS DOUBLE) / c) AS BIGINT) AS score
  FROM bsel, ctx
),
usel AS (SELECT gram, cnt FROM uni
         WHERE gram LIKE 's%'
           AND gram NOT IN (SELECT split_part(suggestion, ' ', 2) FROM bres)
         ORDER BY cnt DESC, gram ASC LIMIT 10),
ures AS (
  SELECT gram AS suggestion,
         CAST(trunc((CAST(9223372036854775807 AS DOUBLE) * CAST(0.4 AS DOUBLE))
              * CAST(cnt AS DOUBLE) / t) AS BIGINT) AS score
  FROM usel, tot
)
SELECT suggestion, score
FROM (SELECT * FROM bres UNION ALL SELECT * FROM ures)
ORDER BY score DESC, suggestion ASC
LIMIT 10
""".strip()


#: QueryAutoStopWordAnalyzer: at the 40% default every corpus word except
#: 'dup' (df pinned at 5% by the generator) exceeds the threshold, so the
#: engine must drop merge+scan and score on dup alone — the oracle derives
#: the stop set independently in SQL
_AUTO_STOP_TERMS = ("dup", "merge", "scan")


def _auto_stop_df(spark, sf_dir):
    """Pure-disjunction query filtered through IndexSearcher.auto_stop_set
    (query/QueryAutoStopWordAnalyzer.java — query-time df-threshold stop
    layer; the index is unchanged)."""
    from lucene_spark.query.ast import parse_query, rewrite_fixpoint

    s = _searcher(spark, sf_dir)
    stop = s.auto_stop_set(0.4)
    live = [t for t in _AUTO_STOP_TERMS if t not in stop]
    ast = {"bool": {"should": [{"term": t} for t in live]}}
    hits = s.search(rewrite_fixpoint(parse_query(json.dumps(ast))), _QUERY_K)
    dm = s.docmap().select(
        "doc_id", F.col("conv_id").cast("long").alias("orig_id"))
    return (
        hits.join(dm, "doc_id")
        .select(F.col("orig_id").alias("doc_id"), "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def _minhash_term(word: str) -> str:
    """The minhash_unigram chain's hex term for one vocab word
    (murmur128 of UTF-16LE + combineOrdered with intHash(0))."""
    from lucene_spark.functions.minhash import _int_hash, murmur3_x64_128

    h1, h2 = murmur3_x64_128(word.encode("utf-16-le"), 0)
    ih1, ih2 = _int_hash(0)
    mask = (1 << 64) - 1
    r1 = (h1 * 37 + ih1) & mask
    r2 = (h2 * 37 + ih2) & mask
    return f"{r2:016x}{r1:016x}"


def _minhash_vocab_hash() -> tuple[tuple[str, str], ...]:
    return tuple((w, _minhash_term(w)) for w in _DOC_VOCAB)


def _minhash_ast() -> dict:
    """must = the globally-smallest-hash vocab word's term (present in
    every doc that contains the word — it is always in the bottom-5),
    should = the second-smallest."""
    ranked = sorted(_DOC_VOCAB, key=_minhash_term)
    return {"bool": {"must": [{"term": _minhash_term(ranked[0])}],
                     "should": [{"term": _minhash_term(ranked[1])}]}}


def _minhash_chain_df(spark, sf_dir):
    return _lang_chain_df(spark, sf_dir, "minhash_unigram", _minhash_ast())


def _path_transcripts(spark, sf_dir):
    tdf = _documents_as_transcripts(spark, sf_dir)
    sp = F.split(F.col("text"), " ")
    path = F.concat(
        F.lit("/"), F.element_at(sp, 1), F.lit("/"), F.element_at(sp, 2),
        F.lit("/"), F.element_at(sp, 3))
    return tdf.withColumn("text", path)


def _path_searcher(spark, sf_dir, analyzer: str):
    """_searcher twin over the derived-path corpus (PathHierarchy demo:
    a short hierarchical field, not the free-text body)."""
    from lucene_spark.index.build import IndexConfig, build_index, load_manifest
    from lucene_spark.index.merge import merge_index
    from lucene_spark.query.search import IndexSearcher

    index_dir = _index_dir_for(sf_dir) + "_" + analyzer
    m = load_manifest(index_dir)
    if m is None or not m.get("merged"):
        cfg = IndexConfig(num_segments=4, term_buckets=8, hot_term_df=4096,
                          analyzer=analyzer)
        build_index(spark, _path_transcripts(spark, sf_dir), index_dir, cfg)
        merge_index(spark, index_dir)
    return IndexSearcher(spark, index_dir)


def _path_chain_df(spark, sf_dir, analyzer: str, ast: dict) -> DataFrame:
    from lucene_spark.query.ast import parse_query, rewrite_fixpoint

    s = _path_searcher(spark, sf_dir, analyzer)
    q = rewrite_fixpoint(parse_query(json.dumps(ast)))
    hits = s.search(q, _QUERY_K)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id"))


def _classic_chain_df(spark, sf_dir):
    return _lang_chain_df(spark, sf_dir, "classic", _CLASSIC_AST)


def _uax29_chain_df(spark, sf_dir):
    return _lang_chain_df(spark, sf_dir, "uax29_urlemail", _UAX29_AST)


def _thai_chain_df(spark, sf_dir):
    return _lang_chain_df(spark, sf_dir, "thai", _THAI_AST)


def _japanese_chain_df(spark, sf_dir):
    from lucene_spark.functions.kuromoji import ensure_ja_dict_dir

    ensure_ja_dict_dir()  # driver-side; executors read the files
    return _lang_chain_df(spark, sf_dir, "japanese", _JAPANESE_AST)


def _korean_chain_df(spark, sf_dir):
    from lucene_spark.functions.nori import ensure_ko_dict_dir

    ensure_ko_dict_dir()
    return _lang_chain_df(spark, sf_dir, "korean", _KOREAN_AST)


def _french_chain_df(spark, sf_dir):
    return _lang_chain_df(spark, sf_dir, "french", _FRENCH_AST)


def _german_chain_df(spark, sf_dir):
    return _lang_chain_df(spark, sf_dir, "german", _GERMAN_AST)


def _spanish_chain_df(spark, sf_dir):
    return _lang_chain_df(spark, sf_dir, "spanish", _SPANISH_AST)


def _italian_chain_df(spark, sf_dir):
    return _lang_chain_df(spark, sf_dir, "italian", _ITALIAN_AST)


def _portuguese_chain_df(spark, sf_dir):
    return _lang_chain_df(spark, sf_dir, "portuguese", _PORTUGUESE_AST)


def _russian_chain_df(spark, sf_dir):
    return _lang_chain_df(spark, sf_dir, "russian", _RUSSIAN_AST)


def _swedish_chain_df(spark, sf_dir):
    return _lang_chain_df(spark, sf_dir, "swedish", _SWEDISH_AST)


def _norwegian_chain_df(spark, sf_dir):
    return _lang_chain_df(spark, sf_dir, "norwegian", _NORWEGIAN_AST)


def _finnish_chain_df(spark, sf_dir):
    return _lang_chain_df(spark, sf_dir, "finnish", _FINNISH_AST)


def _hungarian_chain_df(spark, sf_dir):
    return _lang_chain_df(spark, sf_dir, "hungarian", _HUNGARIAN_AST)


def _czech_chain_df(spark, sf_dir):
    return _lang_chain_df(spark, sf_dir, "czech", _CZECH_AST)


def _bulgarian_chain_df(spark, sf_dir):
    return _lang_chain_df(spark, sf_dir, "bulgarian", _BULGARIAN_AST)


def _latvian_chain_df(spark, sf_dir):
    return _lang_chain_df(spark, sf_dir, "latvian", _LATVIAN_AST)


def _indonesian_chain_df(spark, sf_dir):
    return _lang_chain_df(spark, sf_dir, "indonesian", _INDONESIAN_AST)


def _greek_chain_df(spark, sf_dir):
    return _lang_chain_df(spark, sf_dir, "greek", _GREEK_AST)


def _arabic_chain_df(spark, sf_dir):
    return _lang_chain_df(spark, sf_dir, "arabic", _ARABIC_AST)


def _persian_chain_df(spark, sf_dir):
    return _lang_chain_df(spark, sf_dir, "persian", _PERSIAN_AST)


def _hindi_chain_df(spark, sf_dir):
    return _lang_chain_df(spark, sf_dir, "hindi", _HINDI_AST)


def _bengali_chain_df(spark, sf_dir):
    return _lang_chain_df(spark, sf_dir, "bengali", _BENGALI_AST)


def _sorani_chain_df(spark, sf_dir):
    return _lang_chain_df(spark, sf_dir, "sorani", _SORANI_AST)


def _cjk_chain_df(spark, sf_dir):
    return _lang_chain_df(spark, sf_dir, "cjk", _CJK_AST)


def _brazilian_chain_df(spark, sf_dir):
    return _lang_chain_df(spark, sf_dir, "brazilian", _BRAZILIAN_AST)


def _galician_chain_df(spark, sf_dir):
    return _lang_chain_df(spark, sf_dir, "galician", _GALICIAN_AST)


def _pt_rslp_chain_df(spark, sf_dir):
    return _lang_chain_df(spark, sf_dir, "portuguese_rslp", _PT_RSLP_AST)


def _danish_chain_df(spark, sf_dir):
    return _lang_chain_df(spark, sf_dir, "danish", _DANISH_AST)


def _polish_chain_df(spark, sf_dir):
    return _lang_chain_df(spark, sf_dir, "polish", _POLISH_AST)


def _append_search_df(spark, sf_dir):
    from lucene_spark.query.ast import TermQuery

    s = _append_searcher(spark, sf_dir)
    hits = s.search(TermQuery(_APPEND_TERM), _QUERY_K)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id")
    )


_SYN_MAP = {"scan": ("sweep",), "merge": ("join",)}


def _folded_searcher(spark, sf_dir):
    """Index built with the ASCIIFolding chain over an ACCENT-INJECTED copy
    of the corpus (a->á, e->é via translate): the folding filter restores
    the ASCII tokens, so search results must equal the plain-text oracle
    bit-for-bit — a closed loop that fails the moment folding breaks.
    Ref: ``analysis-common/.../miscellaneous/ASCIIFoldingFilter.java``."""
    from lucene_spark.index.build import IndexConfig, build_index, load_manifest
    from lucene_spark.index.merge import merge_index
    from lucene_spark.query.search import IndexSearcher

    index_dir = _index_dir_for(sf_dir) + "_folded"
    m = load_manifest(index_dir)
    if m is None or not m.get("merged"):
        tdf = _documents_as_transcripts(spark, sf_dir).withColumn(
            "text", F.translate(F.col("text"), "ae", "áé")
        )
        cfg = IndexConfig(num_segments=4, term_buckets=8, hot_term_df=4096,
                          analyzer="standard_folded")
        build_index(spark, tdf, index_dir, cfg)
        merge_index(spark, index_dir)
    return IndexSearcher(spark, index_dir)


def _folded_chain_df(spark, sf_dir):
    from lucene_spark.query.ast import parse_query, rewrite_fixpoint

    s = _folded_searcher(spark, sf_dir)
    q = rewrite_fixpoint(parse_query(json.dumps(_BM25_QUERIES["bm25_conj"])))
    hits = s.search(q, _QUERY_K)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id")
    )


def _syn_searcher(spark, sf_dir):
    """Index built with a runtime-registered synonym chain (index-time
    SynonymGraphFilter semantics: stacked tokens at posIncr 0, counted in
    tf/df but discounted from the length norm).
    Ref: ``analysis-common/.../synonym/SynonymGraphFilter.java``."""
    from lucene_spark.functions.analysis import register_chain
    from lucene_spark.index.build import IndexConfig, build_index, load_manifest
    from lucene_spark.index.merge import merge_index
    from lucene_spark.query.search import IndexSearcher

    register_chain("simple_syn", base="simple", synonyms=_SYN_MAP)
    index_dir = _index_dir_for(sf_dir) + "_syn"
    m = load_manifest(index_dir)
    if m is None or not m.get("merged"):
        tdf = _documents_as_transcripts(spark, sf_dir)
        cfg = IndexConfig(num_segments=4, term_buckets=8, hot_term_df=4096,
                          analyzer="simple_syn")
        build_index(spark, tdf, index_dir, cfg)
        merge_index(spark, index_dir)
    return IndexSearcher(spark, index_dir)


def _syn_chain_df(spark, sf_dir):
    """Query the synonym-only term ("sweep" exists solely via the scan ->
    sweep stack) plus a term whose df the stacking CHANGED (merge -> join
    inflates join's stats) — both effects must match the SQL replay."""
    from lucene_spark.query.ast import parse_query, rewrite_fixpoint

    s = _syn_searcher(spark, sf_dir)
    ast = {"bool": {"must": [{"term": "sweep"}], "should": [{"term": "join"}]}}
    q = rewrite_fixpoint(parse_query(json.dumps(ast)))
    hits = s.search(q, _QUERY_K)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id")
    )


def _phonetic_searcher(spark, sf_dir, chain, suffix):
    """Index built with a phonetic filter chain (``analysis/phonetic``):
    codes stacked at posIncr 0 over the simple base — PhoneticFilter /
    DoubleMetaphoneFilter / DaitchMokotoffSoundexFilter inject=true
    semantics."""
    from lucene_spark.functions.analysis import register_chain
    from lucene_spark.functions.phonetic import (DaitchMokotoffInjector,
                                                 DoubleMetaphoneInjector,
                                                 PhoneticInjector)
    from lucene_spark.index.build import IndexConfig, build_index, load_manifest
    from lucene_spark.index.merge import merge_index
    from lucene_spark.query.search import IndexSearcher

    syn = {"simple_dmetaphone": DoubleMetaphoneInjector,
           "simple_dmsoundex": DaitchMokotoffInjector,
           "simple_soundex": lambda: PhoneticInjector("soundex")}[chain]()
    register_chain(chain, base="simple", synonyms=syn)
    index_dir = _index_dir_for(sf_dir) + suffix
    m = load_manifest(index_dir)
    if m is None or not m.get("merged"):
        tdf = _documents_as_transcripts(spark, sf_dir)
        cfg = IndexConfig(num_segments=4, term_buckets=8, hot_term_df=4096,
                          analyzer=chain)
        build_index(spark, tdf, index_dir, cfg)
        merge_index(spark, index_dir)
    return IndexSearcher(spark, index_dir)


def _phonetic_chain_df(spark, sf_dir):
    """Soundex PhoneticFilter(inject=true) chain: the query hits via the
    STACKED code M620 (soundex('merge') — reachable only through the
    filter) plus the original term 'scan'; norms must discount the
    stacked overlaps exactly like the synonym chain."""
    from lucene_spark.query.ast import parse_query, rewrite_fixpoint

    s = _phonetic_searcher(spark, sf_dir, "simple_soundex", "_soundex")
    ast = {"bool": {"must": [{"term": "M620"}], "should": [{"term": "scan"}]}}
    q = rewrite_fixpoint(parse_query(json.dumps(ast)))
    hits = s.search(q, _QUERY_K)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id")
    )


def _dmetaphone_chain_df(spark, sf_dir):
    """DoubleMetaphoneFilter(inject=true): 'merge' stacks BOTH its primary
    (MRJ) and alternate (MRK) codes — the two clauses reach the same docs
    through different stacked terms, so their df/tf must agree with the
    SQL replay independently."""
    from lucene_spark.query.ast import parse_query, rewrite_fixpoint

    s = _phonetic_searcher(spark, sf_dir, "simple_dmetaphone", "_dmeta")
    ast = {"bool": {"must": [{"term": "MRJ"}], "should": [{"term": "MRK"},
                                                          {"term": "FLTR"}]}}
    q = rewrite_fixpoint(parse_query(json.dumps(ast)))
    hits = s.search(q, _QUERY_K)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id")
    )


def _dmsoundex_chain_df(spark, sf_dir):
    """DaitchMokotoffSoundexFilter(inject=true): 'customer' forks on its
    initial C into BOTH 443690 and 543690 — the two stacked branch codes
    reach the same docs; 'join' adds a second forked word."""
    from lucene_spark.query.ast import parse_query, rewrite_fixpoint

    s = _phonetic_searcher(spark, sf_dir, "simple_dmsoundex", "_dmsx")
    ast = {"bool": {"must": [{"term": "443690"}],
                    "should": [{"term": "543690"}, {"term": "160000"}]}}
    q = rewrite_fixpoint(parse_query(json.dumps(ast)))
    hits = s.search(q, _QUERY_K)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id")
    )


#: dictionary for the DictionaryCompoundWordTokenFilter chain — subword
#: fragments of the documents vocabulary (customer/window/table/value/...)
_DCOMPOUND_DICT = ("cust", "tom", "om", "er", "wind", "ow", "dow", "tab",
                   "ab", "le", "val", "ue")

#: inline vowel-break hyphenation grammar (TeX-style: a1 = break after a)
#: for the HyphenationCompoundWordTokenFilter chain — self-contained, no
#: external pattern files
_HCOMPOUND_XML = (
    "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<hyphenation-info>\n"
    "<hyphen-char value=\"-\"/>\n<classes>\n"
    + "\n".join(c for c in "abcdefghijklmnopqrstuvwxyz0123456789")
    + "\n</classes>\n<patterns>\na1 e1 i1 o1 u1\n</patterns>\n"
    "</hyphenation-info>\n"
)
_HCOMPOUND_DICT = ("cust", "wind", "val")


def _compound_injector(chain):
    from lucene_spark.functions.compound import (
        DictionaryCompoundInjector, HyphenationCompoundInjector)

    if chain == "simple_dcompound":
        return DictionaryCompoundInjector(_DCOMPOUND_DICT)
    return HyphenationCompoundInjector(_HCOMPOUND_XML, _HCOMPOUND_DICT)


def _compound_searcher(spark, sf_dir, chain, suffix):
    """Index built with a compound-word decomposition chain
    (``analysis-common/.../compound``): subwords stacked at posIncr 0 over
    the simple base, counted in tf/df, discounted from norms — the
    CompoundWordTokenFilterBase emission contract."""
    from lucene_spark.functions.analysis import register_chain
    from lucene_spark.index.build import IndexConfig, build_index, load_manifest
    from lucene_spark.index.merge import merge_index
    from lucene_spark.query.search import IndexSearcher

    register_chain(chain, base="simple", synonyms=_compound_injector(chain))
    index_dir = _index_dir_for(sf_dir) + suffix
    m = load_manifest(index_dir)
    if m is None or not m.get("merged"):
        tdf = _documents_as_transcripts(spark, sf_dir)
        cfg = IndexConfig(num_segments=4, term_buckets=8, hot_term_df=4096,
                          analyzer=chain)
        build_index(spark, tdf, index_dir, cfg)
        merge_index(spark, index_dir)
    return IndexSearcher(spark, index_dir)


def _dcompound_chain_df(spark, sf_dir):
    """DictionaryCompoundWordTokenFilter chain: 'cust' exists only via the
    customer -> cust stack and 'dow' only via window -> dow; 'er' is
    stacked from SEVERAL distinct words (customer/merge/order/filter), so
    its blended df must match the SQL replay exactly."""
    from lucene_spark.query.ast import parse_query, rewrite_fixpoint

    s = _compound_searcher(spark, sf_dir, "simple_dcompound", "_dcomp")
    ast = {"bool": {"must": [{"term": "cust"}],
                    "should": [{"term": "dow"}, {"term": "er"}]}}
    q = rewrite_fixpoint(parse_query(json.dumps(ast)))
    hits = s.search(q, _QUERY_K)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id")
    )


def _hcompound_chain_df(spark, sf_dir):
    """HyphenationCompoundWordTokenFilter chain (vowel-break grammar +
    dictionary): 'cust' is reachable only through the genitive one-char-
    shorter retry ('custo' fails, 'cust' matches — ref decompose
    :242-249); 'wind'/'val' through plain hyphen-aligned matches."""
    from lucene_spark.query.ast import parse_query, rewrite_fixpoint

    s = _compound_searcher(spark, sf_dir, "simple_hcompound", "_hcomp")
    ast = {"bool": {"must": [{"term": "wind"}],
                    "should": [{"term": "cust"}, {"term": "val"}]}}
    q = rewrite_fixpoint(parse_query(json.dumps(ast)))
    hits = s.search(q, _QUERY_K)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id")
    )


def _beidermorse_searcher(spark, sf_dir):
    """Index built with a Beider-Morse chain (``analysis/phonetic/.../
    BeiderMorseFilter.java:30-100``): the engine output's ``([^()|-]+)``
    matches REPLACE the token — first code at the original position, the
    rest stacked at posIncr 0, original dropped."""
    from lucene_spark.functions.analysis import register_chain
    from lucene_spark.functions.beidermorse import BeiderMorseMulti
    from lucene_spark.index.build import IndexConfig, build_index, load_manifest
    from lucene_spark.index.merge import merge_index
    from lucene_spark.query.search import IndexSearcher

    register_chain("simple_beidermorse", base="simple",
                   synonyms=BeiderMorseMulti())
    index_dir = _index_dir_for(sf_dir) + "_bm"
    m = load_manifest(index_dir)
    if m is None or not m.get("merged"):
        tdf = _documents_as_transcripts(spark, sf_dir)
        cfg = IndexConfig(num_segments=4, term_buckets=8, hot_term_df=4096,
                          analyzer="simple_beidermorse")
        build_index(spark, tdf, index_dir, cfg)
        merge_index(spark, index_dir)
    return IndexSearcher(spark, index_dir)


def _beidermorse_chain_df(spark, sf_dir):
    """BeiderMorseFilter chain: 'kustomi' is customer's FIRST code (the
    replacement — 'customer' itself is no longer searchable); 'zon' is
    stacked from BOTH join and scan (blended df); 'window' survives only
    through its own stack (the raw word is among window's later codes)."""
    from lucene_spark.query.ast import parse_query, rewrite_fixpoint

    s = _beidermorse_searcher(spark, sf_dir)
    ast = {"bool": {"must": [{"term": "kustomi"}],
                    "should": [{"term": "zon"}, {"term": "window"}]}}
    q = rewrite_fixpoint(parse_query(json.dumps(ast)))
    hits = s.search(q, _QUERY_K)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id")
    )


#: Hunspell chain grammar (our own, authored for this corpus; goldens for
#: it printed from the COMPILED reference Dictionary+Stemmer — see
#: tests/test_hunspell.py). customer -SFX-> custom; scan -PFX-> can;
#: filter has TWO stems (dictionary word 'filter' + 'filt'/E) so the
#: second stacks at posIncr 0; merge/row stem to themselves through the
#: dictionary; every other corpus word is unknown and passes through
#: (HunspellStemFilter.java:34-78 no-stem contract).
_HUNSPELL_AFF = b"""SET UTF-8
PFX P Y 1
PFX P 0 s .
SFX E Y 2
SFX E 0 er .
SFX E e er e
SFX S Y 1
SFX S 0 s .
"""
_HUNSPELL_DIC = b"""6
can/P
custom/E
filter
filt/E
merge/ES
row/S
"""


def _hunspell_injector():
    from lucene_spark.functions.hunspell import HunspellStemInjector

    return HunspellStemInjector(_HUNSPELL_AFF, [_HUNSPELL_DIC])


def _hunspell_searcher(spark, sf_dir):
    """Index built with a Hunspell stemming chain (analysis-common
    ``hunspell/HunspellStemFilter.java:34-78``): the Stemmer's unique
    stems REPLACE the token — first stem at the original position, the
    rest stacked at posIncr 0, unknown words pass through."""
    from lucene_spark.functions.analysis import register_chain
    from lucene_spark.index.build import IndexConfig, build_index, load_manifest
    from lucene_spark.index.merge import merge_index
    from lucene_spark.query.search import IndexSearcher

    register_chain("simple_hunspell", base="simple",
                   synonyms=_hunspell_injector())
    index_dir = _index_dir_for(sf_dir) + "_hun"
    m = load_manifest(index_dir)
    if m is None or not m.get("merged"):
        tdf = _documents_as_transcripts(spark, sf_dir)
        cfg = IndexConfig(num_segments=4, term_buckets=8, hot_term_df=4096,
                          analyzer="simple_hunspell")
        build_index(spark, tdf, index_dir, cfg)
        merge_index(spark, index_dir)
    return IndexSearcher(spark, index_dir)


def _hunspell_chain_df(spark, sf_dir):
    """HunspellStemFilter chain: 'custom' is reachable only through the
    SFX strip of 'customer' (the surface form is replaced); 'can' only
    through the PFX strip of 'scan'; 'filt' exists only as the stacked
    SECOND stem of 'filter' (whose first stem — the dictionary word
    itself — keeps the original position)."""
    from lucene_spark.query.ast import parse_query, rewrite_fixpoint

    s = _hunspell_searcher(spark, sf_dir)
    ast = {"bool": {"must": [{"term": "custom"}],
                    "should": [{"term": "can"}, {"term": "filt"}]}}
    q = rewrite_fixpoint(parse_query(json.dumps(ast)))
    hits = s.search(q, _QUERY_K)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id")
    )


_FLT_FIELDS = [("mrege scan", 1, 1)]  # 'mrege' = 1 OSA transposition
_FLT_K_TERMS = 10


def _fuzzy_like_this_df(spark, sf_dir):
    """FuzzyLikeThisQuery analog: the transposed 'mrege' reaches 'merge'
    through the OSA expansion; variants score boost² x classic idf and
    execute as df=1-override BM25 clauses."""
    s = _searcher(spark, sf_dir)
    hits = s.search_fuzzy_like_this(_FLT_FIELDS, _QUERY_K,
                                    max_num_terms=_FLT_K_TERMS)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id")
    )


_XML_QUERY = """
<BooleanQuery fieldName="text">
  <Clause occurs="must"><TermQuery>hash</TermQuery></Clause>
  <Clause occurs="should"><TermQuery boost="2.0">scan</TermQuery></Clause>
  <Clause occurs="should"><TermsQuery>dup merge</TermsQuery></Clause>
  <Clause occurs="mustNot"><TermQuery>vector</TermQuery></Clause>
</BooleanQuery>
"""
_XML_EQUIV_AST = {
    "bool": {
        "must": [{"term": "hash"}],
        "should": [
            {"term": "scan", "boost": 2.0},
            {"bool": {"should": [{"term": "dup"}, {"term": "merge"}]}},
        ],
        "must_not": [{"term": "vector"}],
    }
}


def _xml_parser_df(spark, sf_dir):
    """CoreParser (queryparser/xml) analog: Boolean XML with inherited
    fieldName, clause occurs routing, a boost attribute, and an analyzed
    TermsQuery — must hash-match the equivalent hand-built AST's oracle."""
    from lucene_spark.query.xmlparser import execute_xml

    s = _searcher(spark, sf_dir)
    hits = execute_xml(s, _XML_QUERY, _QUERY_K)
    return _orig(s, hits).select("doc_id", "score").orderBy(
        F.desc("score"), F.asc("doc_id")
    )


# ------------------------------------------------------------------ contract

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 mixed Boolean top-k on sf0.001 documents."""
    return _topk_df(spark, "/root/testdata/sf0.001", _BM25_QUERIES["bm25_mixed"])


# ------------------------------------------------- pipeline operators

_JACCARD_N, _JACCARD_T = 3, 0.2
_JACCARD_MAX_DF = 16  # shingle-df candidate cutoff (binding at sf0.1+)
_MINHASH = dict(num_perm=64, bands=16, shingle_n=3, threshold=0.2)
_SIMHASH_K = 3
_EMB_T = 0.35
_ANN_QUERY_ID, _ANN_K = 0, 20


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _dedup_exact(spark, sf_dir):
    from lucene_spark.operators.dedup import exact_duplicates
    return exact_duplicates(_docs(spark, sf_dir)).orderBy("doc_id")


def _dedup_jaccard(spark, sf_dir):
    from lucene_spark.operators.dedup import ngram_jaccard_pairs
    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), _JACCARD_N, _JACCARD_T,
        max_shingle_df=_JACCARD_MAX_DF,
    ).orderBy("doc_a", "doc_b")


def _dedup_components_df(spark, sf_dir):
    """Connected components over the n-gram Jaccard near-dup pairs:
    (doc_id, component=min id) — the pair->cluster step a dedup pipeline
    needs before choosing canonical docs."""
    from lucene_spark.operators.dedup import (
        dedup_components, ngram_jaccard_pairs,
    )
    pairs = ngram_jaccard_pairs(
        _docs(spark, sf_dir), _JACCARD_N, _JACCARD_T,
        max_shingle_df=_JACCARD_MAX_DF,
    )
    return dedup_components(pairs).orderBy("doc_id")


def _dedup_minhash(spark, sf_dir):
    from lucene_spark.operators.dedup import minhash_lsh_pairs
    return minhash_lsh_pairs(_docs(spark, sf_dir), **_MINHASH).orderBy("doc_a", "doc_b")


def _dedup_simhash(spark, sf_dir):
    from lucene_spark.operators.dedup import simhash_pairs
    return simhash_pairs(_docs(spark, sf_dir), _SIMHASH_K).orderBy("doc_a", "doc_b")


def _dedup_embedding(spark, sf_dir):
    from lucene_spark.operators.dedup import embedding_dup_pairs
    return embedding_dup_pairs(_embs(spark, sf_dir), _EMB_T).orderBy("vec_a", "vec_b")


def _dedup_embedding_ann(spark, sf_dir):
    # Scale mode: LSH-banded candidates + exact verify. Rows-only entry
    # (approximate recall by design — measured 0.945 on this corpus, pinned
    # in tests/test_operators.py); emitted cosines are bit-identical to the
    # exact path's, and the row set is deterministic (md5-derived planes).
    from lucene_spark.operators.dedup import embedding_dup_pairs_ann
    return embedding_dup_pairs_ann(
        _embs(spark, sf_dir), _EMB_T, num_planes=64, band_bits=4
    ).orderBy("vec_a", "vec_b")


def _ann_brute(spark, sf_dir):
    from lucene_spark.operators.similarity import cosine_topk, query_vector
    e = _embs(spark, sf_dir)
    return cosine_topk(e, query_vector(e, _ANN_QUERY_ID), _ANN_K)


def _ann_dir(sf_dir: str) -> str:
    return _cache_dir(sf_dir, "ann_idx")


def _ann_lsh(spark, sf_dir):
    """LSH ANN over PERSISTED codes (build_ann_index artifacts on disk)."""
    from lucene_spark.operators.similarity import (
        build_ann_index, lsh_ann_topk_indexed, query_vector,
    )
    e = _embs(spark, sf_dir)
    d = _ann_dir(sf_dir)
    # 6 planes = 64 buckets: sized so the multiprobe candidate set stays
    # around the top-k at entry scale (2^16 buckets over 500 vectors would
    # leave the query nearly alone in its bucket)
    build_ann_index(e, d, num_planes=6)
    return lsh_ann_topk_indexed(spark, e, d, query_vector(e, _ANN_QUERY_ID), _ANN_K)


def _token_count(spark, sf_dir):
    from lucene_spark.operators.textstats import token_count
    return token_count(_docs(spark, sf_dir)).orderBy("doc_id")


def _quality(spark, sf_dir):
    from lucene_spark.operators.textstats import quality_scores
    return quality_scores(_docs(spark, sf_dir)).orderBy("doc_id")


def _repetition(spark, sf_dir):
    from lucene_spark.operators.textstats import repetition_stats
    return repetition_stats(_docs(spark, sf_dir)).orderBy("doc_id")


def _dup_segments(spark, sf_dir):
    # corpus has no newlines; sep=" " gives token-level duplication stats
    from lucene_spark.operators.textstats import duplicate_segments
    return duplicate_segments(_docs(spark, sf_dir), sep=" ").orderBy("doc_id")


def _fingerprint_filter(spark, sf_dir):
    from lucene_spark.operators.textstats import fingerprint_filter
    return fingerprint_filter(_docs(spark, sf_dir)).orderBy("doc_id")


def _lang_id(spark, sf_dir):
    """Language ID: Unicode-script tier + rank-weighted character-n-gram
    profiles (Cavnar-Trenkle-style, 21 languages / 10 scripts) — pure JVM
    integer expressions; accuracy pinned on a labeled multilingual fixture
    in tests/test_langid.py (this corpus is ASCII, so the entry exercises
    the Latin profile arm + oracle identity)."""
    from lucene_spark.operators.langid import detect_language
    return detect_language(_docs(spark, sf_dir)).orderBy("doc_id")


def _fingerprint(spark, sf_dir):
    from lucene_spark.operators.textstats import fingerprints
    return fingerprints(_docs(spark, sf_dir)).orderBy("doc_id")


_CHUNK_MAX, _CHUNK_OVERLAP = 32, 8
_DECON_WHERE, _DECON_N = "doc_id % 97 = 0", 8
_SAMPLE_FRACTION = 0.25


def _chunk(spark, sf_dir):
    from lucene_spark.operators.textprep import chunk_documents
    return chunk_documents(
        _docs(spark, sf_dir), _CHUNK_MAX, _CHUNK_OVERLAP
    ).orderBy("doc_id", "chunk_id")


_PACK_SEQ_LEN = 512


def _pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing (textprep.pack_sequences): the
    GPT-style pretraining batch shaper — global token stream cut into
    fixed windows, crossing docs sliced into both neighbors. The Spark
    side runs the scale-shaped two-phase cumulative sum; the oracle is
    one exact window cumsum."""
    from lucene_spark.operators.textprep import pack_sequences
    return pack_sequences(
        _docs(spark, sf_dir), _PACK_SEQ_LEN
    ).orderBy("seq_id", "doc_id")


def _redact(spark, sf_dir):
    from lucene_spark.operators.textprep import redact_pii
    return redact_pii(_docs(spark, sf_dir)).orderBy("doc_id")


def _decontaminate(spark, sf_dir):
    from lucene_spark.operators.textprep import decontaminate
    d = _docs(spark, sf_dir)
    return decontaminate(
        d, d.filter(_DECON_WHERE), n=_DECON_N, min_hits=1
    ).orderBy("doc_id")


def _strat_sample(spark, sf_dir):
    from lucene_spark.operators.textprep import stratified_sample
    return stratified_sample(
        _docs(spark, sf_dir), "source", _SAMPLE_FRACTION
    ).select("doc_id", "source").orderBy("doc_id")


def _clean_corpus(spark, sf_dir):
    from lucene_spark.operators.pipeline import clean_corpus
    return clean_corpus(_docs(spark, sf_dir), 3, 0.5, 0.3)


def _ann_ivf(spark, sf_dir):
    """IVF ANN over PERSISTED centroids + cell assignments."""
    from lucene_spark.operators.similarity import (
        build_ann_index, ivf_ann_topk_indexed, query_vector,
    )
    e = _embs(spark, sf_dir)
    d = _ann_dir(sf_dir)
    build_ann_index(e, d, num_planes=6)
    return ivf_ann_topk_indexed(spark, e, d, query_vector(e, _ANN_QUERY_ID), _ANN_K)


def _ann_hnsw(spark, sf_dir):
    """Per-partition HNSW graphs (Lucene per-segment HNSW analog), persisted
    on disk; deterministic build (md5-derived levels) so rows-only replays
    are stable. Recall vs brute force pinned in pytest."""
    from lucene_spark.operators.hnsw import build_hnsw_index, hnsw_ann_topk_indexed
    from lucene_spark.operators.similarity import query_vector
    e = _embs(spark, sf_dir)
    d = _ann_dir(sf_dir) + "_hnsw"
    build_hnsw_index(e, d, num_parts=4, m=8, ef_construction=64)
    return hnsw_ann_topk_indexed(spark, d, query_vector(e, _ANN_QUERY_ID), _ANN_K)


#: filtered-kNN predicate over the embeddings metadata (label column) —
#: "nearest neighbors among label=2 vectors", KnnFloatVectorQuery's filter
_ANN_FILTER = "label = 2"


def _ann_filtered(spark, sf_dir):
    """Filtered kNN, exact arm (``KnnFloatVectorQuery.java:39-44`` filter):
    brute-force cosine restricted to the predicate's survivors; the filter
    is pushed down to the scan. Full DuckDB oracle (filtered brute force is
    SQL-expressible)."""
    from lucene_spark.operators.similarity import cosine_topk, query_vector
    e = _embs(spark, sf_dir)
    return cosine_topk(
        e, query_vector(e, _ANN_QUERY_ID), _ANN_K, filter=_ANN_FILTER)


def _ann_hnsw_filtered(spark, sf_dir):
    """Filtered kNN over the persisted per-partition HNSW graphs: accept-mask
    beam (traverses through non-accepted nodes, collects only accepted) with
    the reference's exact-fallback strategy switch. Rows-only entry; filtered
    recall + fallback identity pinned in pytest."""
    from lucene_spark.operators.hnsw import build_hnsw_index, hnsw_ann_topk_indexed
    from lucene_spark.operators.similarity import query_vector
    e = _embs(spark, sf_dir)
    d = _ann_dir(sf_dir) + "_hnsw"
    build_hnsw_index(e, d, num_parts=4, m=8, ef_construction=64)
    return hnsw_ann_topk_indexed(
        spark, d, query_vector(e, _ANN_QUERY_ID), _ANN_K,
        filter=_ANN_FILTER, embeddings=e)


def _ann_quantized(spark, sf_dir):
    """Scalar-quantized two-stage search
    (``Lucene104ScalarQuantizedVectorsFormat.java:93`` analog): int8 codes
    (max-abs scale over unit components) pick 4k candidates by exact integer
    dot, float64 cosine re-ranks them. FULL DuckDB oracle — the twin replays
    norms, scale, quantization, the integer candidate cut, and the rescore."""
    from lucene_spark.operators.quantize import (
        build_quantized_codes, quantized_ann_topk,
    )
    from lucene_spark.operators.similarity import query_vector
    e = _embs(spark, sf_dir)
    d = _ann_dir(sf_dir) + "_sq8"
    build_quantized_codes(e, d)
    return quantized_ann_topk(
        spark, e, d, query_vector(e, _ANN_QUERY_ID), _ANN_K,
        rescore_factor=4)


def _ann_ivf_quantized(spark, sf_dir):
    """IVF coarse cells composed with int8 scalar codes: the approximate
    pass scores only the probed cells' codes, float rescore on the winners
    (coarse + scalar quantizer composition). Rows-only (KMeans centroids are
    model state); recall pinned in pytest."""
    from lucene_spark.operators.quantize import (
        build_quantized_codes, quantized_ann_topk,
    )
    from lucene_spark.operators.similarity import build_ann_index, query_vector
    import numpy as np
    e = _embs(spark, sf_dir)
    d = _ann_dir(sf_dir)
    m = build_ann_index(e, d, num_planes=6)
    dq = _ann_dir(sf_dir) + "_sq8"
    build_quantized_codes(e, dq)
    q = query_vector(e, _ANN_QUERY_ID)
    qa = np.asarray(q, dtype=np.float64)
    order = np.argsort([
        float(np.linalg.norm(np.asarray(c) - qa)) for c in m["centroids"]])
    probe = [int(c) for c in order[:2]]
    cells = spark.read.parquet(os.path.join(d, "ivf_cells"))
    cand = cells.filter(F.col("cell").isin(probe)).select("vec_id")
    return quantized_ann_topk(
        spark, e, dq, q, _ANN_K, rescore_factor=4, candidates=cand)


def _ann_hnsw_quantized(spark, sf_dir):
    """Quantized-graph HNSW (``Lucene104HnswScalarQuantizedVectorsFormat``
    analog): graph stores dim-byte int8 codes, the walk scores dequantized,
    the merged P*k candidates rescore in float64. Rows-only; recall +
    reproducibility pinned in pytest."""
    from lucene_spark.operators.hnsw import (
        build_hnsw_index, hnsw_ann_topk_indexed,
    )
    from lucene_spark.operators.similarity import query_vector
    e = _embs(spark, sf_dir)
    d = _ann_dir(sf_dir) + "_hnsw_sq8"
    build_hnsw_index(e, d, num_parts=4, m=8, ef_construction=64,
                     quantize=True)
    return hnsw_ann_topk_indexed(
        spark, d, query_vector(e, _ANN_QUERY_ID), _ANN_K, embeddings=e)


def _media_meta(spark, sf_dir):
    from lucene_spark.operators.multimodal import synth_media
    m = synth_media(_docs(spark, sf_dir))
    return m.select(
        "media_id", "kind", "fmt", "width", "height", "n_frames",
        F.length("content").alias("n_bytes"),
        F.md5(F.lower(F.hex(F.col("content")))).alias("content_md5"),
    ).orderBy("media_id")


def _media_features(spark, sf_dir):
    from lucene_spark.operators.multimodal import media_features, synth_media
    return media_features(synth_media(_docs(spark, sf_dir))).orderBy("media_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every driver entry by name. ``bm25_polish_chain`` is registered only
    where ``stempel.available()`` holds (its table and stop file are read
    from the reference tree at run time), ``bm25_japanese_chain`` and
    ``bm25_korean_chain`` only where ``kuromoji.available()`` /
    ``nori.available()`` hold (their dictionaries are built from it)."""
    from lucene_spark.functions import kuromoji as _ja
    from lucene_spark.functions import nori as _ko
    from lucene_spark.functions import stempel as _pl_stempel

    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    def _mk(ast: dict):
        return lambda spark, sf_dir: _topk_df(spark, sf_dir, ast)

    for name, ast in _BM25_QUERIES.items():
        out[name] = _mk(ast)
    out["bm25_prefix"] = _prefix_df
    out["bm25_phrase"] = _phrase_df
    out["bm25_phrase_slop"] = _phrase_slop_df
    out["bm25_span_near_unord"] = _span_near_df
    out["span_first"] = _span_first_df
    out["span_position_range"] = _span_posrange_df
    out["span_or"] = _span_or_df
    out["span_not"] = _span_not_df
    out["multi_index_search"] = _multi_index_df
    out["interval_ordered"] = _interval_ordered_df
    out["interval_contained_by"] = _interval_contained_by_df
    out["span_within"] = _span_within_df
    out["spellcheck"] = _spellcheck_df
    out["spellcheck_osa"] = _spellcheck_osa_df
    out["more_like_this"] = _mlt_df
    out["suggest_prefix"] = _suggest_df
    out["suggest_analyzing"] = _suggest_analyzing_df
    out["suggest_regex"] = _suggest_regex_df
    out["suggest_context"] = _suggest_context_df
    out["suggest_stop"] = _suggest_stop_df
    out["suggest_blended_infix"] = _suggest_blended_df
    out["suggest_fuzzy"] = _suggest_fuzzy_df
    out["suggest_infix"] = _suggest_infix_df
    out["spellcheck_wordbreak"] = _wordbreak_df
    out["spellcheck_wordcombine"] = _wordcombine_df
    out["query_time_join"] = _query_time_join_df
    out["parent_block_join"] = _parent_join_df
    out["search_many_batch"] = _search_many_df
    out["bm25_with_deletes"] = _deletes_df_entry
    out["bm25_post_expunge"] = _expunged_df
    out["bm25_post_update"] = _updated_df
    out["bm25_dv_update"] = _dv_update_df
    out["bm25_soft_deletes"] = _soft_deletes_df
    out["snapshot_search"] = _snapshot_search_df
    out["split_index_search"] = _split_search_df
    out["bm25_post_bp"] = _bp_df
    out["quality_eval"] = _quality_df
    out["quality_eval_average"] = _quality_avg_df
    out["function_match"] = _function_match_df
    out["function_range"] = _function_range_df
    out["query_profile"] = _profile_df
    out["bm25_multi_phrase"] = _multi_phrase_df
    out["bm25_synonym"] = _synonym_df
    out["bm25_dismax"] = _dismax_df
    out["bm25_blended"] = _blended_df
    out["bm25_blended_bool"] = _blended_bool_df
    out["bm25_fuzzy"] = _fuzzy_df
    out["bm25_wildcard"] = _wildcard_df
    out["bm25_field_filter"] = _field_filter_df
    out["bm25_regexp"] = _regexp_df
    out["bm25_regexp_nested"] = _regexp_nested_df
    out["bm25_range"] = _range_df
    out["bm25_inset"] = _inset_df
    out["hits_count"] = _count_df
    out["bm25_search_after"] = _search_after_df
    out["match_all"] = _match_all_df
    out["constant_score"] = _constant_score_df
    out["facet_counts"] = _facet_df
    out["search_grouped"] = _grouped_df
    out["facet_taxonomy"] = _facet_taxonomy_df
    out["facet_assoc_sum"] = _facet_assoc_sum_df
    out["facet_assoc_max"] = _facet_assoc_max_df
    out["search_sorted"] = _sorted_df
    out["search_sorted_indexed"] = _sorted_indexed_df
    out["explain_score"] = _explain_df
    out["highlight"] = _highlight_df
    out["highlight_offsets"] = _highlight_offsets_df
    out["highlight_fvh"] = _highlight_fvh_df
    out["highlight_fvh_phrase"] = _highlight_fvh_phrase_df
    out["highlight_unified"] = _highlight_unified_df
    out["highlight_unified_sentence"] = _highlight_unified_sentence_df
    out["payload_score_sum"] = _payload_score_df("sum")
    out["payload_score_max"] = _payload_score_df("max")
    out["bm25_delimited_tf"] = _delimited_tf_df
    out["query_parser"] = _query_parser_df
    out["query_parser_fielded"] = _query_parser_fielded_df
    out["bm25_term_pruned"] = _pruned_df
    out["stored_fields"] = _stored_fields_df
    out["streaming_append_search"] = _append_search_df
    out["bm25_stop_chain"] = _stop_chain_df
    out["bm25_english_chain"] = _english_chain_df
    out["bm25_french_chain"] = _french_chain_df
    out["bm25_german_chain"] = _german_chain_df
    out["bm25_spanish_chain"] = _spanish_chain_df
    out["bm25_italian_chain"] = _italian_chain_df
    out["bm25_portuguese_chain"] = _portuguese_chain_df
    out["bm25_russian_chain"] = _russian_chain_df
    out["bm25_swedish_chain"] = _swedish_chain_df
    out["bm25_norwegian_chain"] = _norwegian_chain_df
    out["bm25_finnish_chain"] = _finnish_chain_df
    out["bm25_hungarian_chain"] = _hungarian_chain_df
    out["bm25_czech_chain"] = _czech_chain_df
    out["bm25_bulgarian_chain"] = _bulgarian_chain_df
    out["bm25_latvian_chain"] = _latvian_chain_df
    out["bm25_indonesian_chain"] = _indonesian_chain_df
    out["bm25_greek_chain"] = _greek_chain_df
    out["bm25_arabic_chain"] = _arabic_chain_df
    out["bm25_persian_chain"] = _persian_chain_df
    out["bm25_hindi_chain"] = _hindi_chain_df
    out["bm25_bengali_chain"] = _bengali_chain_df
    out["bm25_sorani_chain"] = _sorani_chain_df
    out["bm25_cjk_chain"] = _cjk_chain_df
    out["bm25_brazilian_chain"] = _brazilian_chain_df
    out["bm25_galician_chain"] = _galician_chain_df
    out["bm25_portuguese_rslp_chain"] = _pt_rslp_chain_df
    out["bm25_danish_chain"] = _danish_chain_df
    for _a in _SNOWBALL_ASTS:
        out[f"bm25_{_a}_chain"] = _snowball_chain_entry(_a)
    out["bm25_classic_chain"] = _classic_chain_df
    out["bm25_uax29_chain"] = _uax29_chain_df
    out["bm25_thai_chain"] = _thai_chain_df
    if _pl_stempel.available():
        out["bm25_polish_chain"] = _polish_chain_df
    if _ja.available():
        out["bm25_japanese_chain"] = _japanese_chain_df
    if _ko.available():
        out["bm25_korean_chain"] = _korean_chain_df
    out["bm25_shingle_chain"] = _shingle_chain_df
    out["bm25_shingle_stop_chain"] = _shingle_stop_chain_df
    out["bm25_word_delimiter_chain"] = _wdgf_chain_df
    out["bm25_wdgf_catenated_chain"] = _wdgf_cat_chain_df
    out["bm25_ngram_chain"] = _ngram_chain_df
    out["bm25_edge_ngram_chain"] = _edge_ngram_chain_df
    out["bm25_common_grams_chain"] = _common_grams_chain_df
    for _pk, _pa, _past in (
        ("bm25_pattern_split_chain", "pattern_split", _PAT_SPLIT_AST),
        ("bm25_pattern_group_chain", "pattern_group", _PAT_GROUP_AST),
        ("bm25_pattern_capture_chain", "pattern_capture", _PAT_CAPTURE_AST),
        ("bm25_pattern_replace_chain", "pattern_replace", _PAT_REPLACE_AST),
    ):
        out[_pk] = _misc_chain_entry(_pa, _past)
    out["bm25_path_hierarchy"] = lambda spark, sf_dir: _path_chain_df(
        spark, sf_dir, "path_hierarchy", _PATH_AST)
    out["bm25_path_hierarchy_reverse"] = lambda spark, sf_dir: _path_chain_df(
        spark, sf_dir, "path_hierarchy_reverse", _PATH_REV_AST)
    out["bm25_minhash_chain"] = _minhash_chain_df
    out["bm25_auto_stop"] = _auto_stop_df
    out["bm25_mapping_char_chain"] = _misc_chain_entry(
        "mapping_standard", _MAPPING_CHAR_AST)
    out["bm25_pattern_replace_char_chain"] = _misc_chain_entry(
        "pattern_replace_char", _PRC_AST)
    out["bm25_htmlstrip_chain"] = _htmlstrip_chain_df
    out["bm25_wikipedia_chain"] = _wikipedia_chain_df
    out["suggest_freetext"] = _freetext_suggest_df
    out["suggest_freetext_indexed"] = _freetext_indexed_df
    out["bm25_common_terms"] = _common_terms_df
    out["high_freq_terms"] = _high_freq_terms_df
    out["covering_query"] = _covering_df
    out["search_diversified"] = _diversified_df
    out["doc_values_stats"] = _dv_stats_df
    out["multi_range_query"] = _multi_range_df
    out["phrase_wildcard"] = _phrase_wildcard_df
    out["term_automaton"] = _term_automaton_df
    out["sweetspot_sim_topk"] = _sweetspot_sim_df
    out["sweetspot_hyper_topk"] = _sweetspot_hyper_df
    for _mk, _ma, _mast in (
        ("bm25_scandinavian_norm_chain", "standard_scandinavian_normalized",
         _SCAND_NORM_AST),
        ("bm25_scandinavian_fold_chain", "standard_scandinavian_folded",
         _SCAND_FOLD_AST),
        ("bm25_length_chain", "standard_length", _LENGTH_AST),
        ("bm25_keepword_chain", "standard_keepword", _KEEPWORD_AST),
        ("bm25_truncate_chain", "standard_truncate", _TRUNCATE_AST),
        ("bm25_reverse_chain", "standard_reverse", _REVERSE_AST),
        ("bm25_capitalize_chain", "standard_capitalize", _CAPITALIZE_AST),
        ("bm25_codepoint_count_chain", "standard_codepoint_count",
         _CPCOUNT_AST),
        ("bm25_keyword_repeat_chain", "english_keyword_repeat",
         _KWREPEAT_AST),
        ("bm25_hyphenated_chain", "whitespace_hyphenated", _HYPH_AST),
    ):
        out[_mk] = _misc_chain_entry(_ma, _mast)
    out["bm25_folded_chain"] = _folded_chain_df
    out["bm25_synonym_chain"] = _syn_chain_df
    out["bm25_phonetic_chain"] = _phonetic_chain_df
    out["bm25_dmetaphone_chain"] = _dmetaphone_chain_df
    out["bm25_dmsoundex_chain"] = _dmsoundex_chain_df
    out["bm25_dcompound_chain"] = _dcompound_chain_df
    out["bm25_hcompound_chain"] = _hcompound_chain_df
    out["bm25_beidermorse_chain"] = _beidermorse_chain_df
    out["bm25_hunspell_chain"] = _hunspell_chain_df
    out["xml_query_parser"] = _xml_parser_df
    out["fuzzy_like_this"] = _fuzzy_like_this_df
    out["bm25_custom_sim"] = _custom_sim_df
    out["classic_sim_topk"] = _classic_sim_df
    out["boolean_sim_topk"] = _boolean_sim_df
    for _sk, _ss in _STATS_SIM_SPECS:
        out[_sk] = _stats_sim_entry(_ss)
    out["simple_query_parser"] = _simple_qp_df
    out["facet_drill_down"] = _drill_down_df
    out["facet_drill_sideways"] = _drill_sideways_df
    out["facet_long_values"] = _facet_long_values_df
    out["all_groups"] = _all_groups_df
    out["distinct_values"] = _distinct_values_df
    out["search_grouped_range"] = _grouped_range_df
    out["grouped_facets"] = _grouped_facets_df
    out["facet_double_ranges"] = _double_ranges_df
    out["facet_dynamic_ranges"] = _dynamic_ranges_df
    out["surround_w"] = _surround_entry("scan w merge")
    out["surround_n"] = _surround_entry("scan 4n merge")
    out["surround_bool"] = _surround_entry("and(scan, mer*)")
    out["facet_range_on_range"] = _range_on_range_df
    out["facet_matching_sets"] = _facet_sets_df
    out["complex_phrase_parser"] = _complex_phrase_df
    out["facet_ranges"] = _facet_ranges_df
    out["facet_histogram"] = _facet_histogram_df
    out["term_vector"] = _term_vector_df
    out["function_score"] = _function_score_df
    out["monitor_match"] = _monitor_df
    out["naive_bayes"] = _naive_bayes_df
    out["confusion_matrix"] = _confusion_matrix_df
    out["confusion_metrics"] = _confusion_metrics_df
    out["dataset_split"] = _dataset_split_df
    out["bm25_combined_field"] = _combined_field_df
    out["term_stats"] = _term_stats_df
    out["norms"] = _norms_df
    out["collection_stats"] = _collection_stats_df
    out["postings_term"] = _postings_df
    # training-data pipeline operators
    out["dedup_exact"] = _dedup_exact
    out["dedup_ngram_jaccard"] = _dedup_jaccard
    out["dedup_components"] = _dedup_components_df
    out["dedup_minhash_lsh"] = _dedup_minhash
    out["dedup_simhash"] = _dedup_simhash
    out["dedup_embedding"] = _dedup_embedding
    out["dedup_embedding_ann"] = _dedup_embedding_ann
    out["ann_cosine_topk"] = _ann_brute
    out["ann_lsh_topk"] = _ann_lsh
    out["text_token_count"] = _token_count
    out["text_quality"] = _quality
    out["text_lang_id"] = _lang_id
    out["text_fingerprint"] = _fingerprint
    out["text_fingerprint_filter"] = _fingerprint_filter
    out["text_repetition"] = _repetition
    out["text_dup_segments"] = _dup_segments
    out["chunk_documents"] = _chunk
    out["pack_sequences"] = _pack_sequences
    out["redact_pii"] = _redact
    out["decontaminate"] = _decontaminate
    out["stratified_sample"] = _strat_sample
    out["clean_corpus"] = _clean_corpus
    out["ann_ivf_topk"] = _ann_ivf
    out["ann_hnsw_topk"] = _ann_hnsw
    out["ann_filtered_topk"] = _ann_filtered
    out["ann_hnsw_filtered"] = _ann_hnsw_filtered
    out["ann_quantized_topk"] = _ann_quantized
    out["ann_ivf_quantized"] = _ann_ivf_quantized
    out["ann_hnsw_quantized"] = _ann_hnsw_quantized
    out["media_meta"] = _media_meta
    out["media_features"] = _media_features
    return out


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per entry; its keys are a subset of ``queries()``.
    The ``bm25_polish_chain``, ``bm25_japanese_chain`` and
    ``bm25_korean_chain`` oracles are built only where their entries are
    registered (``queries()``)."""
    from lucene_spark.plans import sqlgen
    from lucene_spark.query.ast import parse_query

    out: dict[str, str] = {}
    for name, ast in _BM25_QUERIES.items():
        out[name] = sqlgen.topk_sql(parse_query(json.dumps(ast)), _QUERY_K)
    out["bm25_prefix"] = sqlgen.prefix_topk_sql(_PREFIX, _QUERY_K)
    out["bm25_phrase"] = sqlgen.phrase_topk_sql(_PHRASE, _QUERY_K)
    out["bm25_phrase_slop"] = sqlgen.sloppy_phrase_topk_sql(
        _PHRASE_SLOP[0], _PHRASE_SLOP[1], _QUERY_K
    )
    out["bm25_span_near_unord"] = sqlgen.span_near_unordered_sql(
        _SPAN_NEAR[0], _SPAN_NEAR[1], _QUERY_K
    )
    out["span_first"] = sqlgen.span_first_sql(
        _SPAN_FIRST[0], _SPAN_FIRST[1], _QUERY_K
    )
    out["span_position_range"] = sqlgen.span_position_range_sql(
        _SPAN_POSRANGE[0], _SPAN_POSRANGE[1], _SPAN_POSRANGE[2], _QUERY_K
    )
    out["span_or"] = sqlgen.span_or_sql(_SPAN_OR, _QUERY_K)
    out["span_not"] = sqlgen.span_not_sql(
        _SPAN_NOT[0], _SPAN_NOT[1], _QUERY_K,
        pre=_SPAN_NOT[2], post=_SPAN_NOT[3]
    )
    # composite search == single combined index by construction, so the
    # oracle is the ordinary flat-BM25 twin over the FULL table
    out["multi_index_search"] = sqlgen.topk_sql(
        parse_query(json.dumps(_MULTI_QUERY)), _QUERY_K)
    out["interval_ordered"] = sqlgen.interval_ordered_sql(
        _INTERVAL[0], _INTERVAL[1], _INTERVAL[2], _QUERY_K
    )
    out["interval_contained_by"] = sqlgen.interval_contained_by_sql(
        _INTERVAL_CB[0], _INTERVAL_CB[1], _INTERVAL_CB[2], _QUERY_K
    )
    out["span_within"] = sqlgen.interval_contained_by_sql(
        _SPAN_WITHIN[0], _SPAN_WITHIN[1], _SPAN_WITHIN[2], _QUERY_K
    )
    out["spellcheck"] = sqlgen.spellcheck_sql(_SPELL[0], _SPELL[1], _SPELL[2])
    out["spellcheck_osa"] = sqlgen.spellcheck_sql(
        _SPELL_OSA[0], _SPELL_OSA[1], _SPELL_OSA[2], distance="osa")
    out["more_like_this"] = sqlgen.more_like_this_sql(_MLT_DOC, _QUERY_K)
    out["suggest_prefix"] = f"""
WITH {sqlgen.corpus_ctes('documents', 'doc_id', 'text')}
SELECT term, CAST(sum(freq) AS BIGINT) AS weight FROM tf
WHERE term LIKE '{_SUGGEST_PREFIX}%'
GROUP BY term ORDER BY weight DESC, term ASC LIMIT {_SUGGEST_K}
""".strip()
    from lucene_spark.operators import suggesters
    out["suggest_analyzing"] = suggesters.suggest_analyzing_sql(
        _SUG_ANALYZING[0], _SUG_ANALYZING[1], weight_col="n_chars")
    out["suggest_fuzzy"] = suggesters.suggest_fuzzy_sql(
        _SUG_FUZZY[0], _SUG_FUZZY[1], weight_col="n_chars")
    out["suggest_infix"] = suggesters.suggest_infix_sql(
        _SUG_INFIX[0], _SUG_INFIX[1], weight_col="n_chars")
    out["suggest_regex"] = suggesters.suggest_regex_sql(
        _SUG_REGEX[0], _SUG_REGEX[1], weight_col="n_chars")
    out["suggest_context"] = suggesters.suggest_context_sql(
        _SUG_CONTEXT[0], list(_SUG_CONTEXT[1]), _SUG_CONTEXT[2],
        weight_col="n_chars", context_col="lang")
    out["suggest_stop"] = suggesters.suggest_analyzing_stop_sql(
        _SUG_STOP[0], frozenset(_SUG_STOP[1]), _SUG_STOP[2],
        weight_col="n_chars")
    out["suggest_blended_infix"] = suggesters.suggest_blended_infix_sql(
        _SUG_BLENDED[0], _SUG_BLENDED[2], blender=_SUG_BLENDED[1],
        weight_col="n_chars")
    out["spellcheck_wordbreak"] = sqlgen.wordbreak_sql(
        _WORDBREAK[0], _WORDBREAK[1])
    out["spellcheck_wordcombine"] = sqlgen.wordcombine_sql(
        list(_WORDCOMBINE[0]), _WORDCOMBINE[1])
    _join_hits = sqlgen.topk_sql(
        parse_query(json.dumps(_JOIN_AST)), 1_000_000_000)
    out["query_time_join"] = f"""
WITH hits AS ({_join_hits}),
agg AS (
  SELECT d.lang AS jkey, MAX(h.score) AS score
  FROM hits h JOIN documents d ON h.doc_id = d.doc_id
  GROUP BY d.lang
)
SELECT d.doc_id, d.lang, CAST(agg.score AS REAL) AS score
FROM documents d JOIN agg ON d.lang = agg.jkey
ORDER BY score DESC, d.doc_id ASC
LIMIT {_QUERY_K}
""".strip()
    # parent block join: children = 20-token chunks, scored per child with
    # child-level collection stats, max-aggregated to the parent doc
    _childs = (
        "(SELECT doc_id * 100000 + i AS cid, "
        f"array_to_string(toks[i * {_PARENT_CHUNK} + 1 : (i + 1) * {_PARENT_CHUNK}], ' ') AS ctext "
        "FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks, "
        "unnest(range(greatest(CAST(ceil(len(regexp_extract_all(lower(text), '[a-z0-9]+')) "
        f"/ {_PARENT_CHUNK}.0) AS BIGINT), 1))) AS i FROM documents))"
    )
    _child_topk = sqlgen.topk_sql(
        parse_query(json.dumps(_PARENT_AST)), 1_000_000_000,
        table=_childs, id_col="cid", text_col="ctext",
    )
    out["parent_block_join"] = f"""
SELECT t.doc_id // 100000 AS doc_id, CAST(max(t.score) AS REAL) AS score
FROM ({_child_topk}) t
GROUP BY t.doc_id // 100000
ORDER BY score DESC, doc_id ASC LIMIT {_PARENT_K}
""".strip()
    out["bm25_multi_phrase"] = sqlgen.multi_phrase_topk_sql(_MULTI_PHRASE, _QUERY_K)
    out["bm25_synonym"] = sqlgen.synonym_topk_sql(_SYNONYM, _QUERY_K)
    out["bm25_dismax"] = sqlgen.dismax_topk_sql(*_DISMAX, _QUERY_K)
    out["bm25_blended"] = sqlgen.blended_topk_sql(*_BLENDED, _QUERY_K)
    out["bm25_delimited_tf"] = sqlgen.delimited_tf_topk_sql("scan", _QUERY_K)
    out["bm25_blended_bool"] = sqlgen.blended_topk_sql(
        _BLENDED_BOOL, None, 0.01, _QUERY_K, rewrite="bool"
    )
    out["bm25_fuzzy"] = sqlgen.fuzzy_topk_sql(_FUZZY[0], _FUZZY[1], _QUERY_K)
    wc_regex = _WILDCARD.replace("?", ".").replace("*", ".*")
    out["bm25_wildcard"] = sqlgen.expansion_topk_sql(
        f"regexp_full_match(term, '{wc_regex}')", _QUERY_K
    )
    from lucene_spark.query.regexp import translate_regexp
    out["bm25_regexp"] = sqlgen.expansion_topk_sql(
        " AND ".join(
            f"regexp_full_match(term, '{p}')"
            for p in translate_regexp(_REGEXP)),
        _QUERY_K,
    )
    # nested intersection: the oracle uses the HAND-DERIVED equivalent
    # plain-regex form (see _REGEXP_NESTED note; equivalence proven by
    # brute force in tests/test_automaton.py) — computed independently of
    # the engine's automaton
    out["bm25_regexp_nested"] = sqlgen.expansion_topk_sql(
        "(regexp_full_match(term, 's[a-z]{1,4}n')"
        " OR regexp_full_match(term, 't[a-z]*es?'))",
        _QUERY_K,
    )
    out["bm25_range"] = sqlgen.expansion_topk_sql(
        f"term BETWEEN '{_RANGE[0]}' AND '{_RANGE[1]}'", _QUERY_K
    )
    inset = ", ".join(f"'{t}'" for t in _INSET)
    out["bm25_inset"] = sqlgen.expansion_topk_sql(f"term IN ({inset})", _QUERY_K)
    # field filter: the docmap conv_id range maps back to a doc_id range
    base = sqlgen.topk_sql(parse_query(json.dumps({"term": "scan"})), 10_000_000)
    out["bm25_field_filter"] = (
        "SELECT * FROM (\n" + base + "\n) t\n"
        "WHERE doc_id BETWEEN 50 AND 300\n"
        "ORDER BY score DESC, doc_id ASC LIMIT " + str(_QUERY_K)
    )
    out["hits_count"] = sqlgen.count_sql(parse_query(json.dumps(_COUNT_AST)))
    out["bm25_search_after"] = (
        "SELECT * FROM (\n"
        + sqlgen.topk_sql(parse_query(json.dumps({"term": _AFTER_TERM})), 2 * _QUERY_K)
        + "\n) t ORDER BY score DESC, doc_id ASC LIMIT "
        + str(_QUERY_K) + " OFFSET " + str(_QUERY_K)
    )
    out["match_all"] = f"""
SELECT doc_id, CAST(1.0 AS REAL) AS score FROM documents
ORDER BY doc_id ASC LIMIT {_QUERY_K}
""".strip()
    out["constant_score"] = f"""
WITH m AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
    FROM documents
  ) WHERE term = '{_FACET_TERM}'
)
SELECT doc_id, CAST({_CS_BOOST} AS REAL) AS score FROM m
ORDER BY doc_id ASC LIMIT {_QUERY_K}
""".strip()
    _big = 1_000_000_000
    _base = sqlgen.topk_sql(parse_query(json.dumps({"term": _FACET_TERM})), _big)
    _fl = ("SELECT doc_id, len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS fl "
           "FROM documents")
    out["facet_counts"] = f"""
SELECT CAST(d.fl AS VARCHAR) AS value, CAST(count(*) AS BIGINT) AS count
FROM ({_base}) t JOIN ({_fl}) d USING (doc_id)
GROUP BY d.fl ORDER BY count DESC, value ASC
""".strip()
    out["search_grouped"] = f"""
SELECT CAST(fl AS VARCHAR) AS value, doc_id, score, CAST(rnk AS INT) AS rank
FROM (
  SELECT d.fl, t.doc_id, t.score,
         row_number() OVER (PARTITION BY d.fl
                            ORDER BY t.score DESC, t.doc_id ASC) AS rnk
  FROM ({_base}) t JOIN ({_fl}) d USING (doc_id)
) WHERE rnk <= {_GROUP_K}
ORDER BY value, rank
""".strip()
    out["facet_taxonomy"] = f"""
SELECT CAST(d.fl AS VARCHAR) AS value, CAST(count(*) AS BIGINT) AS count
FROM ({_base}) t JOIN ({_fl}) d USING (doc_id)
WHERE (d.fl // 8) = 2
GROUP BY d.fl ORDER BY count DESC, value ASC
""".strip()
    out["facet_assoc_sum"] = f"""
WITH j AS (
  SELECT t.doc_id, d.fl FROM ({_base}) t JOIN ({_fl}) d USING (doc_id)
), p AS (
  SELECT CAST(fl % 5 AS VARCHAR) AS label, CAST(fl AS BIGINT) AS v FROM j
  UNION ALL
  SELECT CAST(fl % 3 AS VARCHAR) AS label, CAST(fl // 2 AS BIGINT) AS v FROM j
)
SELECT label, CAST(sum(v) AS BIGINT) AS value,
       CAST(count(*) AS BIGINT) AS count
FROM p GROUP BY label ORDER BY value DESC, label ASC
""".strip()
    out["facet_assoc_max"] = f"""
WITH j AS (
  SELECT t.doc_id, d.fl FROM ({_base}) t JOIN ({_fl}) d USING (doc_id)
), p AS (
  SELECT CAST(fl % 5 AS VARCHAR) AS label,
         CAST(fl AS DOUBLE) * 0.5 AS v FROM j
  UNION ALL
  SELECT CAST(fl % 3 AS VARCHAR) AS label,
         CAST(fl AS DOUBLE) * 0.25 AS v FROM j
)
SELECT label, CAST(max(v) AS REAL) AS value,
       CAST(count(*) AS BIGINT) AS count
FROM p GROUP BY label ORDER BY value DESC, label ASC
""".strip()
    # surround: 'scan w merge' == ordered adjacent spans == PhraseQuery
    # scoring (slop 0, sloppyFreq 1); 'scan 4n merge' == unordered
    # span-near slop 3; 'and(scan, mer*)' == MUST(term, prefix-expansion)
    out["surround_w"] = sqlgen.phrase_topk_sql(["scan", "merge"], _QUERY_K)
    out["surround_n"] = sqlgen.span_near_unordered_sql(
        ["scan", "merge"], 3, _QUERY_K)
    out["surround_bool"] = sqlgen.must_sum_sql([
        sqlgen.topk_sql(parse_query(json.dumps({"term": "scan"})), 1 << 30),
        sqlgen.prefix_topk_sql("mer", 1 << 30),
    ], _QUERY_K)
    _ror_conds = []
    for _lbl, _qlo, _qhi in _ROR_RANGES:
        _c = (f"d.fl <= {_qhi} AND (d.fl + d.fl % 5) >= {_qlo}")
        _ror_conds.append(
            f"SELECT '{_lbl}' AS label, CAST(coalesce(sum(CASE WHEN {_c} "
            f"THEN 1 ELSE 0 END), 0) AS BIGINT) AS count "
            f"FROM ({_base}) t JOIN ({_fl}) d USING (doc_id)")
    out["facet_range_on_range"] = " UNION ALL ".join(_ror_conds)
    out["facet_matching_sets"] = f"""
WITH j AS (
  SELECT t.doc_id, d.fl % 4 AS a1, d.fl // 8 AS b1,
         d.fl % 3 AS a2, d.fl // 4 AS b2
  FROM ({_base}) t JOIN ({_fl}) d USING (doc_id)
)
SELECT 'exact_1_2' AS label,
       CAST(coalesce(sum((CASE WHEN a1 = 1 AND b1 = 2 THEN 1 ELSE 0 END)
          + (CASE WHEN a2 = 1 AND b2 = 2 THEN 1 ELSE 0 END)), 0) AS BIGINT)
         AS count
FROM j
UNION ALL
SELECT 'rng' AS label,
       CAST(coalesce(sum(
           (CASE WHEN a1 BETWEEN 0 AND 2 AND b1 BETWEEN 1 AND 3
                 THEN 1 ELSE 0 END)
         + (CASE WHEN a2 BETWEEN 0 AND 2 AND b2 BETWEEN 1 AND 3
                 THEN 1 ELSE 0 END)), 0) AS BIGINT) AS count
FROM j
""".strip()
    out["complex_phrase_parser"] = sqlgen.must_sum_sql([
        sqlgen.topk_sql(parse_query(json.dumps({"term": "scan"})), 1 << 30),
        sqlgen.multi_phrase_topk_sql([["merge", "table"], ["scan"]],
                                     1 << 30),
    ], _QUERY_K)
    out["grouped_facets"] = f"""



SELECT CAST(d.fl // 8 AS VARCHAR) AS value,
       CAST(count(DISTINCT d.fl % 7) AS BIGINT) AS count
FROM ({_base}) t JOIN ({_fl}) d USING (doc_id)
GROUP BY 1 ORDER BY count DESC, value ASC
""".strip()
    _dr_conds = []
    for _lbl, _lo, _loin, _hi, _hiin in _DRANGES:
        _c = (f"CAST(d.fl AS DOUBLE) {'>=' if _loin else '>'} {_lo!r} AND "
              f"CAST(d.fl AS DOUBLE) {'<=' if _hiin else '<'} {_hi!r}")
        _dr_conds.append(f"SELECT '{_lbl}' AS label, "
                         f"CAST(coalesce(sum(CASE WHEN {_c} THEN 1 ELSE 0 "
                         f"END), 0) AS BIGINT) AS count "
                         f"FROM ({_base}) t JOIN ({_fl}) d USING (doc_id)")
    out["facet_double_ranges"] = " UNION ALL ".join(_dr_conds)
    out["facet_dynamic_ranges"] = f"""
WITH j AS (
  SELECT CAST(d.fl AS BIGINT) AS v
  FROM ({_base}) t JOIN ({_fl}) d USING (doc_id)
),
n AS (SELECT count(*) AS len FROM j),
c AS (SELECT CAST(ceil(n.len / CAST(least(5, n.len) AS DOUBLE)) AS BIGINT)
        AS sz FROM n),
ord AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM j)
SELECT CAST(count(*) AS BIGINT) AS count,
       CAST(count(*) AS BIGINT) AS weight,
       CAST(min(v) AS BIGINT) AS min, CAST(max(v) AS BIGINT) AS max,
       CAST(CAST(sum(v) AS BIGINT) AS DOUBLE) / count(*) AS avg
FROM ord, c
GROUP BY (rn - 1) // c.sz
ORDER BY min ASC, count DESC
""".strip()
    _dimA = "CAST(d.fl // 8 AS VARCHAR)"

    _dimB = "CAST(d.fl % 3 AS VARCHAR)"
    _dimA_in = f"{_dimA} IN ('2', '3')"
    _dimB_in = f"{_dimB} IN ('1')"
    out["facet_drill_down"] = f"""
SELECT t.doc_id AS doc_id, t.score AS score
FROM ({_base}) t JOIN ({_fl}) d USING (doc_id)
WHERE {_dimA_in} AND {_dimB_in}
ORDER BY t.score DESC, t.doc_id ASC LIMIT {_QUERY_K}
""".strip()
    out["facet_drill_sideways"] = f"""
SELECT dim, value, count FROM (
  SELECT 'len8' AS dim, {_dimA} AS value, CAST(count(*) AS BIGINT) AS count
  FROM ({_base}) t JOIN ({_fl}) d USING (doc_id)
  WHERE {_dimB_in} GROUP BY 2
  UNION ALL
  SELECT 'len3' AS dim, {_dimB} AS value, CAST(count(*) AS BIGINT) AS count
  FROM ({_base}) t JOIN ({_fl}) d USING (doc_id)
  WHERE {_dimA_in} GROUP BY 2
) ORDER BY dim ASC, count DESC, value ASC
""".strip()
    out["facet_long_values"] = f"""
SELECT CAST(d.fl AS BIGINT) AS value, CAST(count(*) AS BIGINT) AS count
FROM ({_base}) t JOIN ({_fl}) d USING (doc_id)
GROUP BY 1 ORDER BY value ASC
""".strip()
    out["all_groups"] = f"""
SELECT DISTINCT CAST(d.fl % 5 AS VARCHAR) AS value
FROM ({_base}) t JOIN ({_fl}) d USING (doc_id)
ORDER BY value ASC
""".strip()
    out["distinct_values"] = f"""
WITH j AS (
  SELECT t.doc_id, t.score, CAST(d.fl // 8 AS VARCHAR) AS g,
         CAST(d.fl % 4 AS VARCHAR) AS v
  FROM ({_base}) t JOIN ({_fl}) d USING (doc_id)
),
heads AS (
  SELECT g, score AS hs, doc_id AS hd FROM (
    SELECT g, score, doc_id,
           row_number() OVER (PARTITION BY g
                              ORDER BY score DESC, doc_id ASC) AS rn
    FROM j) WHERE rn = 1
  ORDER BY hs DESC, hd ASC LIMIT 8
)
SELECT CAST(row_number() OVER (ORDER BY h.hs DESC, h.hd ASC) AS INT) AS rank,
       j.g AS value, CAST(count(DISTINCT j.v) AS BIGINT) AS ndv
FROM j JOIN heads h ON h.g = j.g
GROUP BY j.g, h.hs, h.hd
ORDER BY rank
""".strip()
    out["search_grouped_range"] = f"""
WITH j AS (
  SELECT t.doc_id, t.score,
         CASE WHEN d.fl < 8 THEN (-9223372036854775807 - 1)
              WHEN d.fl >= 32 THEN 32
              ELSE 8 + CAST(floor((d.fl - 8) / 8.0) AS BIGINT) * 8 END
           AS range_lo,
         CASE WHEN d.fl < 8 THEN 8
              WHEN d.fl >= 32 THEN 9223372036854775807
              ELSE 16 + CAST(floor((d.fl - 8) / 8.0) AS BIGINT) * 8 END
           AS range_hi
  FROM ({_base}) t JOIN ({_fl}) d USING (doc_id)
)
SELECT CAST(range_lo AS BIGINT) AS range_lo,
       CAST(range_hi AS BIGINT) AS range_hi, doc_id, score,
       CAST(rnk AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY range_lo
                               ORDER BY score DESC, doc_id ASC) AS rnk
  FROM j
) WHERE rnk <= 2
ORDER BY range_lo, rank
""".strip()
    out["search_sorted"] = f"""

SELECT t.doc_id AS doc_id, CAST(d.fl AS INT) AS field_len, t.score AS score
FROM ({_base}) t JOIN ({_fl}) d USING (doc_id)
ORDER BY d.fl DESC, t.doc_id ASC LIMIT {_SORT_K}
""".strip()
    out["search_sorted_indexed"] = f"""
SELECT t.doc_id AS doc_id, CAST((t.doc_id * 37) % 97 AS INT) AS ts_key,
       t.score AS score
FROM ({_base}) t
ORDER BY ts_key DESC, doc_id ASC LIMIT {_SORT_K}
""".strip()
    out["explain_score"] = sqlgen.topk_sql(
        parse_query(json.dumps(_BM25_QUERIES["bm25_conj"])), 1
    )
    _hl_ast = {"bool": {"must": [{"term": t} for t in _HL_TERMS]}}
    _hl_base = sqlgen.topk_sql(parse_query(json.dumps(_hl_ast)), _HL_K)
    _hl_pat = r"\b(" + "|".join(sorted(_HL_TERMS, key=len, reverse=True)) + r")\b"
    out["highlight"] = f"""
SELECT t.doc_id AS doc_id, t.score AS score,
       regexp_replace(d.text, '(?i){_hl_pat}', '<em>\\0</em>', 'g') AS snippet
FROM ({_hl_base}) t JOIN documents d USING (doc_id)
ORDER BY t.score DESC, t.doc_id ASC
""".strip()
    out["highlight_offsets"] = out["highlight"]
    # FastVectorHighlighter single-term twin: token offsets from prefix
    # sums (the corpus is single-space words), the greedy frag-window
    # walk as a recursive CTE (BaseFragListBuilder.java:46-106), f32
    # weight/norm arithmetic (FieldTermStack.java:90,
    # WeightedFieldFragList.java:66), boundary scan + tag rendering
    _fvt, _fvf, _fvm = _FVH_TERM, _FVH_FRAG, 6
    out["highlight_fvh"] = f"""
WITH RECURSIVE top AS (
  SELECT doc_id, score FROM (
{sqlgen.topk_sql(parse_query(json.dumps({"term": _FVH_TERM})), _FVH_K)}
) tq
),
tok AS (
  SELECT d.doc_id, d.text,
         unnest(string_split(d.text, ' ')) AS w,
         unnest(range(len(string_split(d.text, ' ')))) AS p
  FROM documents d JOIN top USING (doc_id)
),
m AS (
  SELECT doc_id, s, s + length(w) AS e FROM (
    SELECT doc_id, w,
           CAST(coalesce(sum(length(w) + 1) OVER (
             PARTITION BY doc_id ORDER BY p
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT)
             AS s
    FROM tok
  ) o WHERE w = '{_fvt}'
),
rec AS (
  SELECT doc_id, 0 AS iter, 0 AS so, CAST(NULL AS INT) AS fs,
         CAST(NULL AS INT) AS fe, CAST(NULL AS INT) AS first_s,
         CAST(NULL AS INT) AS last_e, CAST(NULL AS INT) AS n
  FROM top
  UNION ALL
  SELECT r.doc_id, r.iter + 1, nf.fe, nf.fs, nf.fe, nf.first_s,
         nf.last_e, nf.n
  FROM rec r CROSS JOIN LATERAL (
    SELECT b.first_s, b.last_e, b.n,
           greatest(b.first_s - greatest(0,
             ({_fvf} - (b.last_e - b.first_s)) // 2), r.so) AS fs,
           greatest(b.first_s - greatest(0,
             ({_fvf} - (b.last_e - b.first_s)) // 2), r.so)
             + greatest(b.last_e - b.first_s, {_fvf}) AS fe
    FROM (
      SELECT a.first_s,
             (SELECT max(e) FROM m WHERE m.doc_id = r.doc_id
                AND m.s >= a.first_s AND m.e <= a.span_end) AS last_e,
             (SELECT CAST(count(*) AS INT) FROM m
                WHERE m.doc_id = r.doc_id
                AND m.s >= a.first_s AND m.e <= a.span_end) AS n
      FROM (
        SELECT f.first_s,
               greatest(f.first_e,
                        greatest(f.first_s - {_fvm}, r.so) + {_fvf})
                 AS span_end
        FROM (
          SELECT m.s AS first_s, m.e AS first_e FROM m
          WHERE m.doc_id = r.doc_id AND m.s >= r.so
          ORDER BY m.s LIMIT 1
        ) f
      ) a
    ) b
  ) nf
),
sel AS (
  SELECT doc_id, fs, fe, first_s, last_e, n,
         row_number() OVER (PARTITION BY doc_id ORDER BY
           CAST((SELECT CAST(ln(
             CAST((SELECT count(*) FROM documents) AS DOUBLE)
             / ((SELECT count(*) FROM documents
                 WHERE (' ' || text || ' ') LIKE '% {_fvt} %') + 1))
             + 1.0 AS REAL))
             * CAST(n * CAST(1.0 / CAST(sqrt(CAST(n AS DOUBLE)) AS REAL)
                             AS REAL) AS REAL) AS REAL) DESC,
           fs ASC) AS rk
  FROM rec WHERE iter > 0
),
bnd AS (
  SELECT s2.doc_id, s2.rk, s2.fs, s2.fe, s2.first_s, s2.last_e,
         d.text || ' ' AS buffer, length(d.text) AS L,
    CASE WHEN s2.fs < 1 OR s2.fs > length(d.text) + 1 THEN s2.fs
         WHEN strpos(reverse(substr(d.text || ' ',
                greatest(s2.fs - 19, 1),
                s2.fs - greatest(s2.fs - 19, 1) + 1)), ' ') > 0
           THEN s2.fs - strpos(reverse(substr(d.text || ' ',
                greatest(s2.fs - 19, 1),
                s2.fs - greatest(s2.fs - 19, 1) + 1)), ' ') + 1
         WHEN s2.fs <= 20 THEN 0
         ELSE s2.fs END AS mso,
    CASE WHEN length(d.text) < s2.fe THEN length(d.text)
         WHEN strpos(substr(d.text || ' ', s2.fe + 1,
                least(20, length(d.text) + 1 - s2.fe)), ' ') > 0
           THEN s2.fe + strpos(substr(d.text || ' ', s2.fe + 1,
                least(20, length(d.text) + 1 - s2.fe)), ' ') - 1
         ELSE s2.fe END AS eo
  FROM sel s2 JOIN documents d USING (doc_id)
  WHERE s2.rk <= {_FVH_MAXFRAGS}
),
pieces AS (
  SELECT b.doc_id, b.rk, b.mso,
         substr(b.buffer, b.mso + 1, b.eo - b.mso) AS src,
         m.s, m.e,
         coalesce(lag(m.e) OVER (PARTITION BY b.doc_id, b.rk
                                 ORDER BY m.s), b.mso) AS prev_e
  FROM bnd b JOIN m ON m.doc_id = b.doc_id
       AND m.s >= b.first_s AND m.e <= b.last_e
),
built AS (
  SELECT doc_id, rk, min(mso) AS mso, any_value(src) AS src,
         max(e) AS tail_e,
         string_agg(substr(src, prev_e - mso + 1, s - prev_e) || '<b>' ||
                    substr(src, s - mso + 1, e - s) || '</b>',
                    '' ORDER BY s) AS body
  FROM pieces GROUP BY doc_id, rk
)
SELECT t.doc_id, t.score, CAST(b.rk - 1 AS INT) AS frag_idx,
       b.body || substr(b.src, b.tail_e - b.mso + 1) AS fragment
FROM built b JOIN top t USING (doc_id)
ORDER BY t.score DESC, t.doc_id ASC, frag_idx ASC
""".strip()
    # UnifiedHighlighter whole-break single passage: PassageScorer closed
    # form (PassageScorer.java:34-105) — tf/weight/norm with one REAL cast
    # per Java float boundary; the two per-term f32 contributions are exact
    # in the f64 sum (order-free), norm(0) is a constant folded in numpy
    import numpy as _np
    _K1 = repr(float(_np.float32(1.2)))
    _K1P1 = repr(float(_np.float32(_np.float32(1.2) + _np.float32(1.0))))
    _NORM0 = repr(float(
        _np.float32(1.0) + _np.float32(1.0)
        / _np.float32(_np.log(_np.float64(_np.float32(87.0))))))

    def _psg_contrib(freq: str) -> str:
        # every decimal literal goes through DOUBLE: DuckDB's direct
        # DECIMAL->FLOAT cast is lossy (1.2000000476837158 -> 1.19999992…)
        # while DECIMAL->DOUBLE is exact; f64 ops over f32 inputs with one
        # REAL cast per Java float boundary replay the f32 chain
        k1 = f"CAST({_K1} AS DOUBLE)"
        k1p1 = f"CAST({_K1P1} AS DOUBLE)"
        dr = "CAST(CAST(length(d.text) AS DOUBLE) / 87.0 AS REAL)"
        nrm = (f"CAST({k1} * CAST(CAST(0.25 AS DOUBLE) + "
               f"CAST(CAST(0.75 AS DOUBLE) * {dr} AS REAL) "
               f"AS REAL) AS REAL)")
        tfq = f"CAST({freq} / CAST({freq} + {nrm} AS REAL) AS REAL)"
        nd = f"CAST(CAST(1.0 AS DOUBLE) + {dr} AS REAL)"
        # (numDocs + 0.5D)/(ttf + 0.5D) is DOUBLE math in Java — keep the
        # SQL in DOUBLE too (DECIMAL + REAL degrades to FLOAT in DuckDB)
        half = "CAST(0.5 AS DOUBLE)"
        wt = (f"CAST({k1p1} * CAST(ln(CAST(1.0 AS DOUBLE) + "
              f"({nd} + {half}) / ({freq} + {half}))"
              f" AS REAL) AS REAL)")
        return f"CAST({tfq} * {wt} AS REAL)"

    _toks_hl = ("SELECT doc_id, unnest(regexp_extract_all(lower(text), "
                "'[a-z0-9]+')) AS term FROM documents")
    out["highlight_unified"] = f"""
WITH tfh AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN term = '{_HL_TERMS[0]}' THEN 1 ELSE 0 END)
              AS BIGINT) AS f0,
         CAST(sum(CASE WHEN term = '{_HL_TERMS[1]}' THEN 1 ELSE 0 END)
              AS BIGINT) AS f1
  FROM ({_toks_hl}) GROUP BY doc_id
)
SELECT t.doc_id AS doc_id, t.score AS score,
       CAST(({_psg_contrib('tfh.f0')} + {_psg_contrib('tfh.f1')})
            * CAST({_NORM0} AS DOUBLE) AS REAL) AS psg_score,
       regexp_replace(d.text, '(?i){_hl_pat}', '<b>\\0</b>', 'g') AS snippet
FROM ({_hl_base}) t JOIN documents d USING (doc_id)
JOIN tfh USING (doc_id)
ORDER BY t.score DESC, t.doc_id ASC
""".strip()
    # payload sums/maxes: values are multiples of 0.25 with small per-doc
    # counts, so the float64 SQL sum cast REAL equals the engine's float32
    # position-order accumulation exactly
    _pay_occ = """
WITH occ AS (
  SELECT doc_id, length(tok) AS l
  FROM documents, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t(tok)
  WHERE tok = 'scan'
)
""".strip()
    out["payload_score_sum"] = (
        _pay_occ
        + "\nSELECT doc_id, CAST(sum((l % 4) * 0.25 + 0.25) AS REAL) AS score"
        + "\nFROM occ GROUP BY doc_id ORDER BY score DESC, doc_id ASC"
    )
    out["payload_score_max"] = (
        _pay_occ
        + "\nSELECT doc_id, CAST(max((l % 4) * 0.25 + 0.25) AS REAL) AS score"
        + "\nFROM occ GROUP BY doc_id ORDER BY score DESC, doc_id ASC"
    )
    from lucene_spark.query.parser import QueryParser as _QP
    _qp_base = sqlgen.topk_sql(
        parse_query(json.dumps({"term": "scan"})), 1_000_000_000)
    out["query_parser_fielded"] = f"""
SELECT doc_id, CAST(CAST(score AS DOUBLE)
                    + CAST(CAST(1.0 AS REAL) AS DOUBLE) AS REAL) AS score
FROM ({_qp_base})
ORDER BY score DESC, doc_id ASC LIMIT {_QUERY_K}
""".strip()
    out["query_parser"] = sqlgen.topk_sql(_QP("simple").parse(_PARSER_QUERY),
                                          _QUERY_K)
    out["bm25_term_pruned"] = sqlgen.topk_sql(
        parse_query(json.dumps({"term": _FACET_TERM})), _QUERY_K
    )
    out["stored_fields"] = f"""
SELECT t.doc_id AS doc_id, t.score AS score,
       lpad(CAST(t.doc_id AS VARCHAR), 12, '0') AS conv_id,
       CAST(0 AS INT) AS turn_idx, 'doc' AS role
FROM ({sqlgen.topk_sql(parse_query(json.dumps({"term": _FACET_TERM})), 10)}) t
ORDER BY t.score DESC, t.doc_id ASC
""".strip()
    out["streaming_append_search"] = sqlgen.topk_sql(
        parse_query(json.dumps({"term": _APPEND_TERM})), _QUERY_K
    )
    from lucene_spark.functions.analysis import EN_STOP_SET
    out["bm25_stop_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(_STOP_AST)), _QUERY_K,
        stop=tuple(sorted(EN_STOP_SET)),
    )
    from lucene_spark.functions.porter import stem
    out["bm25_english_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(_ENGLISH_AST)), _QUERY_K,
        stop=tuple(sorted(EN_STOP_SET)),
        vocab_map=tuple(
            (w, stem(w)) for w in _DOC_VOCAB if stem(w) != w
        ),
    )
    from lucene_spark.functions import analysis as _an
    from lucene_spark.functions import brazilian as _br
    from lucene_spark.functions import cjk as _cj
    from lucene_spark.functions import kuromoji as _ja
    from lucene_spark.functions import normalizers as _nz
    from lucene_spark.functions import nori as _ko
    from lucene_spark.functions import rslp as _gl
    from lucene_spark.functions import snowball as _sb
    from lucene_spark.functions import snowball_chains as _sc
    from lucene_spark.functions import stemmers as _st
    from lucene_spark.functions import stempel as _pl_stempel
    for _key, _ast, _stop, _tr in (
        ("bm25_french_chain", _FRENCH_AST, _st.FR_STOP_FULL,
         _st.french_chain_transform),
        ("bm25_german_chain", _GERMAN_AST, _st.DE_STOP,
         _st.german_chain_transform),
        ("bm25_spanish_chain", _SPANISH_AST, _st.ES_STOP,
         _st.spanish_chain_transform),
        ("bm25_italian_chain", _ITALIAN_AST, _st.IT_STOP_FULL,
         _st.italian_chain_transform),
        ("bm25_portuguese_chain", _PORTUGUESE_AST, _st.PT_STOP,
         _st.portuguese_chain_transform),
        ("bm25_russian_chain", _RUSSIAN_AST, _st.RU_STOP,
         _st.russian_chain_transform),
        ("bm25_swedish_chain", _SWEDISH_AST, _st.SV_STOP,
         _st.swedish_chain_transform),
        ("bm25_norwegian_chain", _NORWEGIAN_AST, _st.NO_STOP,
         _st.norwegian_chain_transform),
        ("bm25_finnish_chain", _FINNISH_AST, _st.FI_STOP,
         _st.finnish_chain_transform),
        ("bm25_hungarian_chain", _HUNGARIAN_AST, _st.HU_STOP,
         _st.hungarian_chain_transform),
        ("bm25_czech_chain", _CZECH_AST, _st.CZ_STOP,
         _st.czech_chain_transform),
        ("bm25_bulgarian_chain", _BULGARIAN_AST, _st.BG_STOP,
         _st.bulgarian_chain_transform),
        ("bm25_latvian_chain", _LATVIAN_AST, _st.LV_STOP,
         _st.latvian_chain_transform),
        ("bm25_indonesian_chain", _INDONESIAN_AST, _st.ID_STOP,
         _st.indonesian_chain_transform),
        ("bm25_greek_chain", _GREEK_AST, _st.EL_STOP_FULL,
         _st.greek_chain_transform),
        ("bm25_arabic_chain", _ARABIC_AST, _nz.AR_STOP,
         _nz.arabic_chain_transform),
        ("bm25_persian_chain", _PERSIAN_AST, _nz.FA_STOP,
         _nz.persian_chain_transform),
        ("bm25_hindi_chain", _HINDI_AST, _nz.HI_STOP,
         _nz.hindi_chain_transform),
        ("bm25_bengali_chain", _BENGALI_AST, _nz.BN_STOP,
         _nz.bengali_chain_transform),
        ("bm25_sorani_chain", _SORANI_AST, _nz.CKB_STOP,
         _nz.sorani_chain_transform),
        ("bm25_cjk_chain", _CJK_AST, _cj.CJK_STOP,
         str),  # no vocab transform: str is identity on str
        ("bm25_brazilian_chain", _BRAZILIAN_AST, _br.BR_STOP,
         _br.brazilian_stem),
        ("bm25_galician_chain", _GALICIAN_AST, _gl.GL_STOP,
         _gl.galician_stem),
        ("bm25_portuguese_rslp_chain", _PT_RSLP_AST, _st.PT_STOP,
         _gl.portuguese_rslp_stem),
        ("bm25_danish_chain", _DANISH_AST, _sb.DA_STOP,
         _sb.danish_stem),
        *(
            (("bm25_polish_chain", _POLISH_AST, _pl_stempel.LazyPolishStop(),
              _pl_stempel.polish_chain_transform),)
            if _pl_stempel.available() else ()
        ),
        *(
            (f"bm25_{_a}_chain", _SNOWBALL_ASTS[_a], _stop_, _tr_)
            for _a, _stop_, _tr_ in (
                ("dutch", _sc.NL_STOP, _sc.dutch_chain_transform),
                ("romanian", _sc.RO_STOP, _sc.romanian_chain_transform),
                ("catalan", _sc.CA_STOP_FULL, _sc.catalan_chain_transform),
                ("basque", _sc.EU_STOP, _sc.basque_chain_transform),
                ("armenian", _sc.HY_STOP, _sc.armenian_chain_transform),
                ("estonian", _sc.ET_STOP, _sc.estonian_chain_transform),
                ("lithuanian", _sc.LT_STOP, _sc.lithuanian_chain_transform),
                ("swedish_snowball", _st.SV_STOP, _sc.swedish_snowball_transform),
                ("norwegian_snowball", _st.NO_STOP, _sc.norwegian_snowball_transform),
                ("russian_snowball", _st.RU_STOP, _sc.russian_snowball_transform),
                ("finnish_snowball", _st.FI_STOP, _sc.finnish_snowball_transform),
                ("hungarian_snowball", _st.HU_STOP, _sc.hungarian_snowball_transform),
                ("turkish", _sc.TR_STOP, _sc.turkish_chain_transform),
                ("irish", _sc.GA_STOP_FULL, _sc.irish_chain_transform),
                ("english_kstem", _an.EN_STOP_SET, _an._kstem_transform),
                ("serbian", _sc.SR_STOP, _sc.serbian_chain_transform),
                ("tamil", _sc.TA_STOP, _sc.tamil_chain_transform),
                ("nepali", _sc.NE_STOP, _sc.nepali_chain_transform),
                ("telugu", _nz.TE_STOP, _nz.telugu_chain_transform),
            )
        ),
    ):
        out[_key] = sqlgen.topk_sql(
            parse_query(json.dumps(_ast)), _QUERY_K,
            stop=tuple(sorted(w for w in _DOC_VOCAB if w in _stop)),
            vocab_map=tuple(
                (w, _tr(w)) for w in _DOC_VOCAB if _tr(w) != w
            ),
        )
    # classic: EN stops live (ClassicAnalyzer.STOP_WORDS_SET); tokens ==
    # simple tokens on this [a-z0-9 ]-only corpus. uax29: no stop set —
    # tokens identical to the plain index
    out["bm25_classic_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(_CLASSIC_AST)), _QUERY_K,
        stop=tuple(sorted(w for w in _DOC_VOCAB if w in _an.EN_STOP_SET)),
    )
    out["bm25_uax29_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(_UAX29_AST)), _QUERY_K,
    )
    # thai: all-Thai stop set + decimal fold are no-ops on [a-z ] text;
    # dictionary segmentation pinned vs the compiled class (test_thai.py)
    out["bm25_thai_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(_THAI_AST)), _QUERY_K,
    )
    # japanese: unknown-ALPHA/NUMERIC grouping == simple tokens on this
    # corpus; all-Japanese stop resources never fire (see _JAPANESE_AST)
    if _ja.available():
        out["bm25_japanese_chain"] = sqlgen.topk_sql(
            parse_query(json.dumps(_JAPANESE_AST)), _QUERY_K,
        )
    if _ko.available():
        out["bm25_korean_chain"] = sqlgen.topk_sql(
            parse_query(json.dumps(_KOREAN_AST)), _QUERY_K,
        )
    # word_delimiter chains: identity on this delimiter-free corpus
    out["bm25_word_delimiter_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(_WDGF_AST)), _QUERY_K,
    )
    out["bm25_wdgf_catenated_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(_WDGF_CAT_AST)), _QUERY_K,
    )
    # misc filter chains
    from lucene_spark.functions import miscfilters as _mf
    out["bm25_scandinavian_norm_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(_SCAND_NORM_AST)), _QUERY_K)
    out["bm25_scandinavian_fold_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(_SCAND_FOLD_AST)), _QUERY_K)
    out["bm25_length_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(_LENGTH_AST)), _QUERY_K,
        drop_where="length({term}) < 3 OR length({term}) > 8")
    out["bm25_keepword_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(_KEEPWORD_AST)), _QUERY_K,
        drop_where="{term} NOT IN ("
                   + ", ".join(f"'{w}'" for w in sorted(_mf.KEEP_DEMO)) + ")")
    out["bm25_truncate_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(_TRUNCATE_AST)), _QUERY_K,
        vocab_map=tuple((w, w[:4]) for w in _DOC_VOCAB if len(w) > 4))
    out["bm25_reverse_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(_REVERSE_AST)), _QUERY_K,
        vocab_map=tuple((w, w[::-1]) for w in _DOC_VOCAB if w != w[::-1]))
    out["bm25_capitalize_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(_CAPITALIZE_AST)), _QUERY_K,
        vocab_map=tuple((w, _mf.capitalize(w)) for w in _DOC_VOCAB
                        if _mf.capitalize(w) != w))
    out["bm25_codepoint_count_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(_CPCOUNT_AST)), _QUERY_K,
        drop_where="length({term}) < 2 OR length({term}) > 6")
    # keyword-repeat: stemmed copies replay as index-time SYNONYM stacking
    # (tf/df counted, dl not — posIncr-0 discountOverlaps)
    out["bm25_keyword_repeat_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(_KWREPEAT_AST)), _QUERY_K,
        stop=tuple(sorted(w for w in _DOC_VOCAB if w in _an.EN_STOP_SET)),
        synonyms=tuple(
            (w, _an.english_vocab_transform(w)) for w in _DOC_VOCAB
            if _an.english_vocab_transform(w) != w
            and w not in _an.EN_STOP_SET))
    # hyphenated: whitespace tokens == simple tokens on this corpus
    out["bm25_hyphenated_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(_HYPH_AST)), _QUERY_K)
    out["bm25_common_grams_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(_COMMON_GRAMS_AST)), _QUERY_K,
        corpus_override=sqlgen.common_grams_corpus_ctes(
            "documents", "doc_id", "text", tuple(sorted(_an.EN_STOP_SET))),
    )
    # pattern package: split == simple tokens on this corpus (semantics
    # pinned in tests/test_patterntok.py); group/capture replayed via
    # corpus CTEs; replace replayed via the corpus vocab_map
    out["bm25_pattern_split_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(_PAT_SPLIT_AST)), _QUERY_K)
    out["bm25_pattern_group_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(_PAT_GROUP_AST)), _QUERY_K,
        corpus_override=sqlgen.pattern_group_corpus_ctes(
            "documents", "doc_id", "text", r"\bt[a-z]+"),
    )
    out["bm25_pattern_capture_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(_PAT_CAPTURE_AST)), _QUERY_K,
        corpus_override=sqlgen.pattern_capture_corpus_ctes(
            "documents", "doc_id", "text"),
    )
    from lucene_spark.functions.patterntok import pattern_replace_transform
    out["bm25_pattern_replace_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(_PAT_REPLACE_AST)), _QUERY_K,
        vocab_map=tuple(
            (w, pattern_replace_transform(w)) for w in _DOC_VOCAB
            if pattern_replace_transform(w) != w),
    )
    # path package: prefixes/suffixes of the derived '/w1/w2/w3' path
    out["bm25_path_hierarchy"] = sqlgen.topk_sql(
        parse_query(json.dumps(_PATH_AST)), _QUERY_K,
        corpus_override=sqlgen.path_corpus_ctes(
            "documents", "doc_id", "text", reverse=False),
    )
    out["bm25_path_hierarchy_reverse"] = sqlgen.topk_sql(
        parse_query(json.dumps(_PATH_REV_AST)), _QUERY_K,
        corpus_override=sqlgen.path_corpus_ctes(
            "documents", "doc_id", "text", reverse=True),
    )
    out["bm25_auto_stop"] = sqlgen.auto_stop_topk_sql(
        _AUTO_STOP_TERMS, _QUERY_K, 0.4)
    out["suggest_freetext"] = _FREETEXT_SQL
    # the persisted-model path must reproduce the corpus-scan LM exactly
    out["suggest_freetext_indexed"] = _FREETEXT_SQL
    out["bm25_common_terms"] = sqlgen.common_terms_topk_sql(
        _COMMON_TERMS, _QUERY_K, _COMMON_TERMS_MTF)
    out["high_freq_terms"] = _HIGH_FREQ_SQL
    out["phrase_wildcard"] = sqlgen.phrase_wildcard_topk_sql(
        [("terms", ["merge"]), ("like", "s%")], _QUERY_K)
    _ta = _term_automaton_query()
    _ta_arcs, _ta_any, _ta_acc = _ta.arc_rows()
    out["term_automaton"] = sqlgen.term_automaton_topk_sql(
        _ta_arcs, _ta_any, _ta_acc, _ta.terms, _QUERY_K)
    out["covering_query"] = sqlgen.covering_topk_sql(
        _COVERING_TERMS, _QUERY_K, "(doc_id % 3) + 1")
    out["search_diversified"] = sqlgen.diversified_topk_sql(
        parse_query(json.dumps(_DIVERSIFIED_AST)), _QUERY_K,
        "doc_id % 37", 2)
    # stats derived from EXACT integer sums with the same scalar formula
    # on both sides (see IndexSearcher.doc_values_stats)
    out["doc_values_stats"] = """
WITH hits AS (
  SELECT doc_id FROM (
    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
    FROM documents) WHERE t = 'merge' GROUP BY doc_id
),
vals AS (SELECT nullif(doc_id % 7, 0) AS v FROM hits)
SELECT count(v) AS "count", count(*) - count(v) AS missing,
       min(v) AS "min", max(v) AS "max", CAST(sum(v) AS BIGINT) AS "sum",
       CAST(sum(v) AS DOUBLE) / count(v) AS mean,
       CAST(sum(v*v) AS DOUBLE) / count(v)
         - (CAST(sum(v) AS DOUBLE) / count(v))
         * (CAST(sum(v) AS DOUBLE) / count(v)) AS variance,
       sqrt(CAST(sum(v*v) AS DOUBLE) / count(v)
         - (CAST(sum(v) AS DOUBLE) / count(v))
         * (CAST(sum(v) AS DOUBLE) / count(v))) AS stdev
FROM vals
""".strip()
    out["multi_range_query"] = """
SELECT doc_id, CAST(1.0 AS REAL) AS score FROM documents
WHERE (doc_id BETWEEN 10 AND 50) OR (doc_id BETWEEN 40 AND 90)
   OR (doc_id <= 5)
ORDER BY score DESC, doc_id ASC LIMIT 25
""".strip()
    out["sweetspot_sim_topk"] = sqlgen.topk_sql(
        parse_query(json.dumps(_SIM_AST)), _QUERY_K, similarity="sweetspot",
    )
    out["sweetspot_hyper_topk"] = sqlgen.topk_sql(
        parse_query(json.dumps(_SIM_AST)), _QUERY_K,
        similarity="sweetspot_hyper",
    )
    # char filters: the oracle applies the same pre-tokenization rewrite
    # to the text column (sequential replace == greedy simultaneous here:
    # the map keys share no chars and no replacement contains a key)
    out["bm25_mapping_char_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(_MAPPING_CHAR_AST)), _QUERY_K,
        text_col="replace(replace(text, 'qu', 'kw'), 'x', 'ks')")
    out["bm25_pattern_replace_char_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(_PRC_AST)), _QUERY_K,
        text_col="regexp_replace(text, 'dup', '', 'g')")
    # htmlstrip: the oracle predicts the stripped wrapper in closed form
    # (the raw text's '&'/'<' are blanked on both sides — see _HTML_WRAP_*)
    out["bm25_htmlstrip_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(_HTML_AST)), _QUERY_K,
        text_col=_HTML_STRIPPED_SQL)
    # wikipedia: the wrapper "renders" to a closed-form plain text (every
    # token posIncr 1 — see _WIKI_WRAP_*)
    out["bm25_wikipedia_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(_WIKI_AST)), _QUERY_K,
        text_col=_WIKI_STRIPPED_SQL)
    # minhash: bottom-5 sketch terms; the vocab->hash map is computed by
    # the Python murmur port and replayed as an inline VALUES join
    out["bm25_minhash_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(_minhash_ast())), _QUERY_K,
        corpus_override=sqlgen.minhash_corpus_ctes(
            "documents", "doc_id", "text", _minhash_vocab_hash()),
    )
    # ngram chains: grams replayed in SQL; dl = one per source token
    out["bm25_ngram_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(_NGRAM_AST)), _QUERY_K,
        corpus_override=sqlgen.ngram_corpus_ctes(
            "documents", "doc_id", "text", "ngram"),
    )
    out["bm25_edge_ngram_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(_EDGE_NGRAM_AST)), _QUERY_K,
        corpus_override=sqlgen.ngram_corpus_ctes(
            "documents", "doc_id", "text", "edge"),
    )
    # shingle chains: emitted terms = unigrams + adjacent-pair shingles
    # over the filler-expanded stream (sqlgen.shingle_corpus_ctes); the dl
    # counts posIncr>0 emissions like the engine's norm
    out["bm25_shingle_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(_SHINGLE_AST)), _QUERY_K,
        corpus_override=sqlgen.shingle_corpus_ctes(
            "documents", "doc_id", "text"),
    )
    out["bm25_shingle_stop_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(_SHINGLE_STOP_AST)), _QUERY_K,
        corpus_override=sqlgen.shingle_corpus_ctes(
            "documents", "doc_id", "text", tuple(sorted(_an.EN_STOP_SET))),
    )
    # folding restores the accent-injected corpus to the originals, so the
    # oracle is the PLAIN-text query — exact iff ascii_fold round-trips
    out["bm25_folded_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(_BM25_QUERIES["bm25_conj"])), _QUERY_K,
    )
    out["bm25_synonym_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(
            {"bool": {"must": [{"term": "sweep"}],
                      "should": [{"term": "join"}]}})), _QUERY_K,
        synonyms=tuple((a, b) for a, syns in sorted(_SYN_MAP.items())
                       for b in syns),
    )
    out["xml_query_parser"] = sqlgen.topk_sql(
        parse_query(json.dumps(_XML_EQUIV_AST)), _QUERY_K)
    from lucene_spark.functions.analysis import analyze_one_chain as _aoc
    _flt_sources = []
    _flt_seen = set()
    for _qs, _me, _pl in _FLT_FIELDS:
        for _t in _aoc(_qs, "simple")[0]:
            if _t not in _flt_seen:
                _flt_seen.add(_t)
                _flt_sources.append((_t, _me, _pl))
    out["fuzzy_like_this"] = sqlgen.fuzzy_like_this_sql(
        _flt_sources, _QUERY_K, max_num_terms=_FLT_K_TERMS)
    from lucene_spark.functions.phonetic import (DoubleMetaphoneInjector,
                                                 PhoneticInjector)
    _sx = PhoneticInjector("soundex")
    out["bm25_phonetic_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(
            {"bool": {"must": [{"term": "M620"}],
                      "should": [{"term": "scan"}]}})), _QUERY_K,
        synonyms=tuple((w, c) for w in _DOC_VOCAB for c in _sx.get(w, ())),
    )
    _dmj = DoubleMetaphoneInjector()
    out["bm25_dmetaphone_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(
            {"bool": {"must": [{"term": "MRJ"}],
                      "should": [{"term": "MRK"}, {"term": "FLTR"}]}})),
        _QUERY_K,
        synonyms=tuple((w, c) for w in _DOC_VOCAB for c in _dmj.get(w, ())),
    )
    from lucene_spark.functions.phonetic import DaitchMokotoffInjector
    _dms = DaitchMokotoffInjector()
    out["bm25_dmsoundex_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(
            {"bool": {"must": [{"term": "443690"}],
                      "should": [{"term": "543690"}, {"term": "160000"}]}})),
        _QUERY_K,
        synonyms=tuple((w, c) for w in _DOC_VOCAB for c in _dms.get(w, ())),
    )
    _dci = _compound_injector("simple_dcompound")
    out["bm25_dcompound_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(
            {"bool": {"must": [{"term": "cust"}],
                      "should": [{"term": "dow"}, {"term": "er"}]}})),
        _QUERY_K,
        synonyms=tuple((w, c) for w in _DOC_VOCAB for c in _dci.get(w, ())),
    )
    _hci = _compound_injector("simple_hcompound")
    out["bm25_hcompound_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(
            {"bool": {"must": [{"term": "wind"}],
                      "should": [{"term": "cust"}, {"term": "val"}]}})),
        _QUERY_K,
        synonyms=tuple((w, c) for w in _DOC_VOCAB for c in _hci.get(w, ())),
    )
    # BeiderMorse replace+stack = vocab_map (token -> first code) plus
    # stacking keyed on the FIRST code; exact because the first codes are
    # injective over the corpus vocabulary (pinned in
    # tests/test_entries_contract.py)
    from lucene_spark.functions.beidermorse import BeiderMorseMulti
    _bmm = BeiderMorseMulti()
    _bm_parts = {w: _bmm.get(w, ()) for w in _DOC_VOCAB}
    out["bm25_beidermorse_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(
            {"bool": {"must": [{"term": "kustomi"}],
                      "should": [{"term": "zon"}, {"term": "window"}]}})),
        _QUERY_K,
        vocab_map=tuple((w, p[0]) for w, p in sorted(_bm_parts.items())
                        if p),
        synonyms=tuple((p[0], s) for _w, p in sorted(_bm_parts.items())
                       if p for s in p[1:]),
    )
    # Hunspell replace+stack, same replay shape as BeiderMorse: vocab_map
    # (word -> first stem) + stacking keyed on the first stem; exact
    # because effective first stems are injective over the corpus
    # vocabulary (pinned in tests/test_entries_contract.py)
    _hun = _hunspell_injector()
    _hun_stems = {w: _hun.get(w, ()) for w in _DOC_VOCAB}
    out["bm25_hunspell_chain"] = sqlgen.topk_sql(
        parse_query(json.dumps(
            {"bool": {"must": [{"term": "custom"}],
                      "should": [{"term": "can"}, {"term": "filt"}]}})),
        _QUERY_K,
        vocab_map=tuple((w, p[0]) for w, p in sorted(_hun_stems.items())
                        if p),
        synonyms=tuple((p[0], s) for _w, p in sorted(_hun_stems.items())
                       if p for s in p[1:]),
    )
    out["bm25_custom_sim"] = sqlgen.topk_sql(
        parse_query(json.dumps(_BM25_QUERIES["bm25_conj"])), _QUERY_K,
        k1=_CUSTOM_K1, b=_CUSTOM_B,
    )
    out["classic_sim_topk"] = sqlgen.topk_sql(
        parse_query(json.dumps(_SIM_AST)), _QUERY_K, similarity="classic",
    )
    out["boolean_sim_topk"] = sqlgen.topk_sql(
        parse_query(json.dumps(_SIM_AST)), _QUERY_K, similarity="boolean",
    )
    for _sk, _ss in _STATS_SIM_SPECS:
        out[_sk] = sqlgen.topk_sql(
            parse_query(json.dumps(_SIM_AST)), _QUERY_K, similarity=_ss,
        )
    out["simple_query_parser"] = sqlgen.should_sum_sql([
        sqlgen.topk_sql(parse_query(json.dumps(
            {"bool": {"must": [{"term": "scan"}, {"term": "merge"}]}})),
            1 << 30),
        sqlgen.phrase_topk_sql(["scan", "merge"], 1 << 30),
        sqlgen.prefix_topk_sql("mer", 1 << 30),
    ], _QUERY_K)
    out["facet_histogram"] = sqlgen.facet_histogram_sql(
        parse_query(json.dumps(_BM25_QUERIES["bm25_conj"])), 4)
    out["facet_ranges"] = sqlgen.facet_ranges_sql(
        parse_query(json.dumps(_BM25_QUERIES["bm25_conj"])), _FACET_RANGES,
    )
    out["term_vector"] = sqlgen.term_vector_sql(_TV_DOC)
    out["function_score"] = sqlgen.function_score_sql(
        parse_query(json.dumps(_BM25_QUERIES["bm25_conj"])), _FS_VALUE,
        _QUERY_K,
    )
    from lucene_spark.streaming.monitor import monitor_match_sql
    out["monitor_match"] = monitor_match_sql(_monitor_queries())
    from lucene_spark.operators.classify import naive_bayes_sql
    out["naive_bayes"] = naive_bayes_sql(label_col="lang")
    _cm_counts = f"""
WITH preds AS (
{naive_bayes_sql(label_col="lang")}
)
SELECT d.lang AS correct, p.label AS classified,
       CAST(count(*) AS BIGINT) AS count
FROM preds p JOIN documents d USING (doc_id)
WHERE d.lang IS NOT NULL AND d.text IS NOT NULL
GROUP BY d.lang, p.label
""".strip()
    out["confusion_matrix"] = (_cm_counts
                               + "\nORDER BY correct, classified")
    # f1 derived from the SAME double precision/recall values
    out["confusion_metrics"] = f"""
WITH cm AS (
{_cm_counts}
), rowt AS (
  SELECT correct AS label, CAST(sum(count) AS BIGINT) AS row_total,
         CAST(sum(CASE WHEN classified = correct THEN count ELSE 0 END)
              AS BIGINT) AS tp
  FROM cm GROUP BY correct
), colt AS (
  SELECT classified AS label, CAST(sum(count) AS BIGINT) AS col_total
  FROM cm GROUP BY classified
), m AS (
  SELECT r.label AS label, r.tp AS tp,
         CAST(coalesce(c.col_total, 0) - r.tp AS BIGINT) AS fp,
         CAST(r.row_total - r.tp AS BIGINT) AS fn,
         CASE WHEN r.tp > 0 THEN CAST(r.tp AS DOUBLE)
                   / CAST(coalesce(c.col_total, 0) AS DOUBLE)
              ELSE 0.0 END AS precision,
         CASE WHEN r.row_total > 0
              THEN CAST(r.tp AS DOUBLE) / CAST(r.row_total AS DOUBLE)
              ELSE 0.0 END AS recall
  FROM rowt r LEFT JOIN colt c USING (label)
)
SELECT label, tp, fp, fn, precision, recall,
       CASE WHEN precision > 0 AND recall > 0
            THEN 2.0 * precision * recall / (precision + recall)
            ELSE 0.0 END AS f1
FROM m ORDER BY label
""".strip()
    out["dataset_split"] = """
WITH base AS (
  SELECT doc_id, lang,
         min(doc_id) OVER (PARTITION BY lang) AS gmin,
         count(*) OVER (PARTITION BY lang) AS gsize
  FROM documents WHERE lang IS NOT NULL
), b AS (
  SELECT *, row_number() OVER (ORDER BY gmin, lang, doc_id) - 1 AS bpos
  FROM base
), e AS (
  SELECT *, row_number() OVER (PARTITION BY lang, bpos % 2
                               ORDER BY bpos) AS erank
  FROM b
), t AS (
  SELECT *, (bpos % 2 = 0
             AND (erank - 1) < gsize * CAST(0.2 AS DOUBLE)) AS is_test
  FROM e
), r AS (
  SELECT *, row_number() OVER (PARTITION BY lang, is_test
                               ORDER BY bpos) AS rrank
  FROM t
)
SELECT doc_id,
       CASE WHEN is_test THEN 'test'
            WHEN (rrank - 1) < gsize * CAST(0.3 AS DOUBLE) THEN 'cv'
            ELSE 'train' END AS split
FROM r ORDER BY doc_id
""".strip()
    out["bm25_with_deletes"] = (
        "SELECT * FROM (\n"
        + sqlgen.topk_sql(parse_query(json.dumps({"term": "scan"})), 1_000_000_000)
        + f"\n) t WHERE doc_id % {_DELETE_MOD} <> {_DELETE_REM}\n"
        f"ORDER BY score DESC, doc_id ASC LIMIT {_QUERY_K}"
    )
    # soft deletes: default-reader exclusion == hard-tombstone shape
    # (full-corpus stats, ids filtered); presence/retention is pinned in
    # test_soft_deletes.py (not SQL-expressible as a second result set)
    out["bm25_soft_deletes"] = (
        "SELECT * FROM (\n"
        + sqlgen.topk_sql(parse_query(json.dumps({"term": "scan"})), 1_000_000_000)
        + f"\n) t WHERE doc_id % {_SOFT_MOD} <> {_SOFT_REM}\n"
        f"ORDER BY score DESC, doc_id ASC LIMIT {_QUERY_K}"
    )
    # post-expunge == fresh build over survivors: the oracle recomputes
    # EVERYTHING (stats included) over the filtered corpus
    _surv = (f"(SELECT doc_id, text FROM documents "
             f"WHERE doc_id % {_DELETE_MOD} <> {_DELETE_REM})")
    out["bm25_post_expunge"] = sqlgen.topk_sql(
        parse_query(json.dumps({"term": "scan"})), _QUERY_K, table=_surv,
    )
    # DV update: scores == the plain index (postings untouched), the new
    # label column == a doc_id predicate the oracle replays directly
    _dv_base = sqlgen.topk_sql(
        parse_query(json.dumps({"term": "scan"})), 1_000_000_000)
    out["bm25_dv_update"] = (
        "SELECT * FROM (\n" + _dv_base
        + f"\n) t WHERE doc_id % {_DV_MOD} = {_DV_REM}\n"
        f"ORDER BY score DESC, doc_id ASC LIMIT {_QUERY_K}"
    )
    # atomic replace + expunge == fresh build over the UPDATED corpus: the
    # oracle recomputes everything over a CASE-modified source table
    _updtbl = (
        f"(SELECT doc_id, CASE WHEN doc_id % {_UPDATE_MOD} = {_UPDATE_REM} "
        f"THEN '{_UPDATE_PREFIX}' || text ELSE text END AS text "
        f"FROM documents)"
    )
    out["bm25_post_update"] = sqlgen.topk_sql(
        parse_query(json.dumps({"term": "scan"})), _QUERY_K, table=_updtbl,
    )
    # BP reordering is score-invariant (docIDs move, stats don't): the
    # oracle is the plain un-reordered top-k
    out["bm25_post_bp"] = sqlgen.topk_sql(
        parse_query(json.dumps({"term": "scan"})), _QUERY_K,
    )
    # snapshot read: the pinned pre-delete commit must score like the
    # FULL corpus even after the live index was tombstoned + expunged
    out["snapshot_search"] = sqlgen.topk_sql(
        parse_query(json.dumps({"term": "scan"})), _QUERY_K,
    )
    # split + recompose: composite stats over the parts == the flat index
    out["split_index_search"] = sqlgen.topk_sql(
        parse_query(json.dumps(_SPLIT_AST)), _QUERY_K,
    )
    # FVH phrase twin: matches = exact adjacency pairs (the 2-term walk
    # emits precisely those) merged into one span; weighted frag boost
    # = f32(w_t0 + w_t1) * norm, counted once per fragment; same
    # recursive frag walk / boundary scan / tag rendering
    _fp0, _fp1 = _FVH_PHRASE
    _fw = ("CAST(ln(CAST((SELECT count(*) FROM documents) AS DOUBLE) "
           "/ ((SELECT count(*) FROM documents "
           "WHERE (' ' || text || ' ') LIKE '% {t} %') + 1)) "
           "+ 1.0 AS REAL)")
    _fp_boost = ("CAST((" + _fw.format(t=_fp0) + " + "
                 + _fw.format(t=_fp1) + ") AS REAL)")
    out["highlight_fvh_phrase"] = f"""
WITH RECURSIVE top AS (
  SELECT doc_id, score FROM (
{sqlgen.phrase_topk_sql(list(_FVH_PHRASE), _FVH_K)}
) tq
),
tok AS (
  SELECT d.doc_id, d.text,
         unnest(string_split(d.text, ' ')) AS w,
         unnest(range(len(string_split(d.text, ' ')))) AS p
  FROM documents d JOIN top USING (doc_id)
),
offs AS (
  SELECT doc_id, w, p,
         CAST(coalesce(sum(length(w) + 1) OVER (
           PARTITION BY doc_id ORDER BY p
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT)
           AS s
  FROM tok
),
m AS (
  SELECT a.doc_id, a.s AS s,
         CAST(b.s + {len(_fp1)} AS INT) AS e
  FROM (SELECT doc_id, p, s FROM offs WHERE w = '{_fp0}') a
  JOIN (SELECT doc_id, p, s FROM offs WHERE w = '{_fp1}') b
    ON b.doc_id = a.doc_id AND b.p = a.p + 1
),
rec AS (
  SELECT doc_id, 0 AS iter, 0 AS so, CAST(NULL AS INT) AS fs,
         CAST(NULL AS INT) AS fe, CAST(NULL AS INT) AS first_s,
         CAST(NULL AS INT) AS last_e, CAST(NULL AS INT) AS n
  FROM top
  UNION ALL
  SELECT r.doc_id, r.iter + 1, nf.fe, nf.fs, nf.fe, nf.first_s,
         nf.last_e, nf.n
  FROM rec r CROSS JOIN LATERAL (
    SELECT b.first_s, b.last_e, b.n,
           greatest(b.first_s - greatest(0,
             ({_FVH_FRAG} - (b.last_e - b.first_s)) // 2), r.so) AS fs,
           greatest(b.first_s - greatest(0,
             ({_FVH_FRAG} - (b.last_e - b.first_s)) // 2), r.so)
             + greatest(b.last_e - b.first_s, {_FVH_FRAG}) AS fe
    FROM (
      SELECT a.first_s,
             (SELECT max(e) FROM m WHERE m.doc_id = r.doc_id
                AND m.s >= a.first_s AND m.e <= a.span_end) AS last_e,
             (SELECT CAST(count(*) AS INT) FROM m
                WHERE m.doc_id = r.doc_id
                AND m.s >= a.first_s AND m.e <= a.span_end) AS n
      FROM (
        SELECT f.first_s,
               greatest(f.first_e,
                        greatest(f.first_s - 6, r.so) + {_FVH_FRAG})
                 AS span_end
        FROM (
          SELECT m.s AS first_s, m.e AS first_e FROM m
          WHERE m.doc_id = r.doc_id AND m.s >= r.so
          ORDER BY m.s LIMIT 1
        ) f
      ) a
    ) b
  ) nf
),
sel AS (
  SELECT doc_id, fs, fe, first_s, last_e, n,
         row_number() OVER (PARTITION BY doc_id ORDER BY
           CAST({_fp_boost}
             * CAST((2 * n) * CAST(1.0 /
                 CAST(sqrt(CAST(2 * n AS DOUBLE)) AS REAL)
                             AS REAL) AS REAL) AS REAL) DESC,
           fs ASC) AS rk
  FROM rec WHERE iter > 0
),
bnd AS (
  SELECT s2.doc_id, s2.rk, s2.fs, s2.fe, s2.first_s, s2.last_e,
         d.text || ' ' AS buffer, length(d.text) AS L,
    CASE WHEN s2.fs < 1 OR s2.fs > length(d.text) + 1 THEN s2.fs
         WHEN strpos(reverse(substr(d.text || ' ',
                greatest(s2.fs - 19, 1),
                s2.fs - greatest(s2.fs - 19, 1) + 1)), ' ') > 0
           THEN s2.fs - strpos(reverse(substr(d.text || ' ',
                greatest(s2.fs - 19, 1),
                s2.fs - greatest(s2.fs - 19, 1) + 1)), ' ') + 1
         WHEN s2.fs <= 20 THEN 0
         ELSE s2.fs END AS mso,
    CASE WHEN length(d.text) < s2.fe THEN length(d.text)
         WHEN strpos(substr(d.text || ' ', s2.fe + 1,
                least(20, length(d.text) + 1 - s2.fe)), ' ') > 0
           THEN s2.fe + strpos(substr(d.text || ' ', s2.fe + 1,
                least(20, length(d.text) + 1 - s2.fe)), ' ') - 1
         ELSE s2.fe END AS eo
  FROM sel s2 JOIN documents d USING (doc_id)
  WHERE s2.rk <= {_FVH_MAXFRAGS}
),
pieces AS (
  SELECT b.doc_id, b.rk, b.mso,
         substr(b.buffer, b.mso + 1, b.eo - b.mso) AS src,
         m.s, m.e,
         coalesce(lag(m.e) OVER (PARTITION BY b.doc_id, b.rk
                                 ORDER BY m.s), b.mso) AS prev_e
  FROM bnd b JOIN m ON m.doc_id = b.doc_id
       AND m.s >= b.first_s AND m.e <= b.last_e
),
built AS (
  SELECT doc_id, rk, min(mso) AS mso, any_value(src) AS src,
         max(e) AS tail_e,
         string_agg(substr(src, prev_e - mso + 1, s - prev_e) || '<b>' ||
                    substr(src, s - mso + 1, e - s) || '</b>',
                    '' ORDER BY s) AS body
  FROM pieces GROUP BY doc_id, rk
)
SELECT t.doc_id, t.score, CAST(b.rk - 1 AS INT) AS frag_idx,
       b.body || substr(b.src, b.tail_e - b.mso + 1) AS fragment
FROM built b JOIN top t USING (doc_id)
ORDER BY t.score DESC, t.doc_id ASC, frag_idx ASC
""".strip()
    # quality harness: per-query searches replayed with the standard
    # top-k twin, QualityStats arithmetic replayed with window cumsum +
    # ordered list_reduce (the reference's sequential float64
    # pReleventSum), REAL casts on every metric
    _q_res = "\n  UNION ALL\n".join(
        f"  SELECT '{q}' AS query, doc_id, score FROM (\n"
        + sqlgen.topk_sql(parse_query(json.dumps(_QUALITY_ASTS[q])),
                          _QUALITY_TOPK)
        + "\n) t_" + q
        for q in sorted(_QUALITY_ASTS)
    )
    _q_rel = "\n  UNION ALL\n".join(
        f"  SELECT '{q}' AS query, doc_id FROM documents WHERE "
        f"(length(text) - length(replace(text, '{w}', ''))) / {len(w)}"
        f" >= {_QUALITY_TF}"
        for q, w in sorted(_QUALITY_REL.items())
    )
    _q_names = ", ".join(f"'{q}'" for q in sorted(_QUALITY_ASTS))
    _q_pat = ",\n".join(
        f"  CAST(CAST(CASE WHEN num_points >= {n} THEN g{n} ELSE num_good "
        f"END AS DOUBLE) / {n} AS REAL) AS p_at_{n}"
        for n in (1, 5, 10, 20)
    )
    _q_gs = ",\n".join(
        f"    CAST(coalesce(sum(rel) FILTER (WHERE rank <= {n}), 0) "
        f"AS BIGINT) AS g{n}"
        for n in (1, 5, 10, 20)
    )
    out["quality_eval"] = f"""
WITH res AS (
{_q_res}
),
ranked AS (
  SELECT query, doc_id, row_number() OVER (
    PARTITION BY query ORDER BY score DESC, doc_id ASC) AS rank
  FROM res
),
rel AS (
{_q_rel}
),
mg AS (SELECT query, CAST(count(*) AS BIGINT) AS max_good FROM rel GROUP BY query),
judged AS (
  SELECT r.query, r.rank,
         CASE WHEN g.doc_id IS NULL THEN 0 ELSE 1 END AS rel
  FROM ranked r LEFT JOIN rel g ON g.query = r.query AND g.doc_id = r.doc_id
),
cum AS (
  SELECT query, rank, rel,
         sum(rel) OVER (PARTITION BY query ORDER BY rank) AS good
  FROM judged
),
per AS (
  SELECT query,
    CAST(count(*) AS BIGINT) AS num_points,
    CAST(sum(rel) AS BIGINT) AS num_good,
    min(CASE WHEN rel = 1 THEN rank END) AS first_rel,
    list_reduce(
      list_prepend(CAST(0.0 AS DOUBLE),
        coalesce(list(CAST(good AS DOUBLE) / rank ORDER BY rank)
                 FILTER (WHERE rel = 1), [])),
      (acc, x) -> acc + x) AS avp_sum,
{_q_gs}
  FROM cum GROUP BY query
),
base AS (SELECT unnest([{_q_names}]) AS query),
t AS (
  SELECT b.query,
    coalesce(num_points, 0) AS num_points,
    coalesce(num_good, 0) AS num_good,
    coalesce(max_good, 0) AS max_good,
    first_rel, coalesce(avp_sum, 0.0) AS avp_sum,
    coalesce(g1, 0) AS g1, coalesce(g5, 0) AS g5,
    coalesce(g10, 0) AS g10, coalesce(g20, 0) AS g20
  FROM base b LEFT JOIN per USING (query) LEFT JOIN mg USING (query)
)
SELECT query, num_points, num_good, max_good,
{_q_pat},
  CAST(CASE WHEN max_good = 0 THEN 0.0
       ELSE avp_sum / CAST(max_good AS DOUBLE) END AS REAL) AS avg_precision,
  CAST(CASE WHEN first_rel <= 5 THEN CAST(1.0 AS DOUBLE) / first_rel
       ELSE 0.0 END AS REAL) AS mrr,
  CAST(CASE WHEN max_good <= 0 THEN
         (CASE WHEN num_points > 0
               THEN CAST(num_good AS DOUBLE) / num_points ELSE 0.0 END)
       ELSE CAST(num_good AS DOUBLE) / max_good END AS REAL) AS recall
FROM t ORDER BY query
""".strip()
    # query profiler: leaf df/ttf from the token replay; operator counts
    # from per-doc presence of the four terms (must hash; should dup,
    # scan; must_not vector; msm 0)
    out["query_profile"] = f"""
WITH {sqlgen.corpus_ctes('documents', 'doc_id', 'text')},
pres AS (
  SELECT doc_id,
         max(CASE WHEN term = 'hash' THEN 1 ELSE 0 END) AS m_hash,
         max(CASE WHEN term = 'dup' THEN 1 ELSE 0 END) AS m_dup,
         max(CASE WHEN term = 'scan' THEN 1 ELSE 0 END) AS m_scan,
         max(CASE WHEN term = 'vector' THEN 1 ELSE 0 END) AS m_vec
  FROM tf WHERE term IN ('hash', 'dup', 'scan', 'vector')
  GROUP BY doc_id
),
leafstats AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df,
         CAST(sum(freq) AS BIGINT) AS ttf
  FROM tf WHERE term IN ('hash', 'dup', 'scan', 'vector') GROUP BY term
),
ops AS (
  SELECT CAST(count(*) AS BIGINT) AS candidates,
         CAST(coalesce(sum(m_hash), 0) AS BIGINT) AS must_pass,
         CAST(coalesce(sum(m_hash), 0) AS BIGINT) AS msm_pass,
         CAST(coalesce(sum(CASE WHEN m_hash = 1 AND m_vec = 1
                            THEN 1 ELSE 0 END), 0) AS BIGINT) AS excluded,
         CAST(coalesce(sum(CASE WHEN m_hash = 1 AND m_vec = 0
                            THEN 1 ELSE 0 END), 0) AS BIGINT) AS matched
  FROM pres
)
SELECT * FROM (
  SELECT 0 AS seq, 'leaf:must' AS node, 'hash' AS detail,
         coalesce(df, 0) AS docs, coalesce(ttf, 0) AS ttf
  FROM (SELECT 1) one LEFT JOIN leafstats ON term = 'hash'
  UNION ALL
  SELECT 1, 'leaf:should', 'dup', coalesce(df, 0), coalesce(ttf, 0)
  FROM (SELECT 1) one LEFT JOIN leafstats ON term = 'dup'
  UNION ALL
  SELECT 2, 'leaf:should', 'scan', coalesce(df, 0), coalesce(ttf, 0)
  FROM (SELECT 1) one LEFT JOIN leafstats ON term = 'scan'
  UNION ALL
  SELECT 3, 'leaf:must_not', 'vector', coalesce(df, 0), coalesce(ttf, 0)
  FROM (SELECT 1) one LEFT JOIN leafstats ON term = 'vector'
  UNION ALL
  SELECT 4, 'candidates', '', candidates, NULL FROM ops
  UNION ALL SELECT 5, 'must_pass', '', must_pass, NULL FROM ops
  UNION ALL SELECT 6, 'msm_pass', '', msm_pass, NULL FROM ops
  UNION ALL SELECT 7, 'excluded', '', excluded, NULL FROM ops
  UNION ALL SELECT 8, 'matched', '', matched, NULL FROM ops
) t ORDER BY seq
""".strip()
    # quality average: per-metric float64 folds in query order over
    # positively-judged queries (QualityStats.average:195-236)
    def _qa_fold(col):
        return ("CAST(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
                f"coalesce(list(CAST({col} AS DOUBLE) ORDER BY query) "
                "FILTER (WHERE max_good > 0), [])), "
                "(a, x) -> a + x) / m AS REAL)")

    _qa_cols = ", ".join(
        [f"{_qa_fold(c)} AS avg_{c}"
         for c in ("num_points", "num_good", "max_good")]
        + [f"{_qa_fold(f'p_at_{n}')} AS p_at_{n}" for n in (1, 5, 10, 20)]
        + [f"{_qa_fold(c)} AS {c}"
           for c in ("avg_precision", "mrr", "recall")]
    )
    out["quality_eval_average"] = f"""
WITH q AS (
{out["quality_eval"]}
),
agg AS (
  SELECT CAST(count(*) FILTER (WHERE max_good > 0) AS BIGINT)
           AS num_queries,
         CAST(count(*) FILTER (WHERE max_good > 0) AS DOUBLE) AS m,
         {_qa_cols}
  FROM q
)
SELECT num_queries, avg_num_points, avg_num_good, avg_max_good,
       p_at_1, p_at_5, p_at_10, p_at_20, avg_precision, mrr, recall
FROM agg
""".strip()
    # FunctionMatch / FunctionRange: the value source is the per-doc
    # token count (field_len); match is constant-score, range scores the
    # float32 value itself (ValueSourceScorer.java:85-92)
    out["function_match"] = f"""
WITH {sqlgen.corpus_ctes('documents', 'doc_id', 'text')}
SELECT doc_id, CAST({_FM_PARAMS[2]} AS REAL) AS score FROM dl
WHERE CAST(dl AS DOUBLE) % 7 = 3
ORDER BY score DESC, doc_id ASC LIMIT {_FM_PARAMS[3]}
""".strip()
    out["function_range"] = f"""
WITH {sqlgen.corpus_ctes('documents', 'doc_id', 'text')}
SELECT doc_id, CAST(CAST(dl AS DOUBLE) AS REAL) AS score FROM dl
WHERE CAST(dl AS DOUBLE) >= {_FR_PARAMS[1]}
  AND CAST(dl AS DOUBLE) < {_FR_PARAMS[2]}
ORDER BY score DESC, doc_id ASC LIMIT {_FR_PARAMS[3]}
""".strip()
    out["search_many_batch"] = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS query, t.* FROM (\n"
        + sqlgen.topk_sql(parse_query(json.dumps(ast)), _QUERY_K)
        + "\n) t"
        for name, ast in _WORKLOAD.items()
    ) + "\nORDER BY query, score DESC, doc_id ASC"
    from lucene_spark.query.combined import combined_field_sql
    out["bm25_combined_field"] = combined_field_sql(
        _CF_FIELDS, _CF_TERMS, _QUERY_K
    )
    out["term_stats"] = sqlgen.term_stats_sql(
        [t for t in _STATS_TERMS if t != "zzz-absent"] + ["zzz-absent"]
    )
    out["norms"] = sqlgen.norms_sql()
    out["collection_stats"] = f"""
WITH {sqlgen.corpus_ctes('documents', 'doc_id', 'text')}
SELECT CAST(dc AS BIGINT) AS doc_count, sttf AS sum_total_term_freq,
       CAST(sttf / CAST(dc AS DOUBLE) AS REAL) AS avgdl
FROM st
""".strip()
    out["postings_term"] = f"""
WITH {sqlgen.corpus_ctes('documents', 'doc_id', 'text')}
SELECT doc_id, CAST(freq AS INT) AS freq FROM tf
WHERE term = '{_POSTINGS_TERM}' ORDER BY doc_id
""".strip()

    from lucene_spark.operators import dedup, multimodal, similarity, textstats

    out["dedup_exact"] = dedup.exact_duplicates_sql()
    out["dedup_ngram_jaccard"] = dedup.ngram_jaccard_sql(
        _JACCARD_N, _JACCARD_T, max_shingle_df=_JACCARD_MAX_DF
    )
    out["dedup_components"] = dedup.dedup_components_sql(
        dedup.ngram_jaccard_sql(
            _JACCARD_N, _JACCARD_T, max_shingle_df=_JACCARD_MAX_DF))
    out["dedup_minhash_lsh"] = dedup.minhash_lsh_sql(**_MINHASH)
    out["dedup_simhash"] = dedup.simhash_pairs_sql(_SIMHASH_K)
    out["dedup_embedding"] = dedup.embedding_dup_sql(_EMB_T)
    out["ann_cosine_topk"] = similarity.cosine_topk_sql(_ANN_QUERY_ID, _ANN_K)
    out["ann_filtered_topk"] = similarity.cosine_topk_sql(
        _ANN_QUERY_ID, _ANN_K, where=_ANN_FILTER)
    from lucene_spark.operators import quantize
    out["ann_quantized_topk"] = quantize.quantized_topk_sql(
        _ANN_QUERY_ID, _ANN_K, rescore_factor=4)
    out["text_token_count"] = textstats.token_count_sql()
    out["text_quality"] = textstats.quality_scores_sql()
    from lucene_spark.operators import langid
    out["text_lang_id"] = langid.detect_language_sql()
    out["text_fingerprint"] = textstats.fingerprints_sql()
    out["text_fingerprint_filter"] = textstats.fingerprint_filter_sql()
    out["text_repetition"] = textstats.repetition_stats_sql()
    out["text_dup_segments"] = textstats.duplicate_segments_sql(sep=" ")
    from lucene_spark.operators import textprep
    out["chunk_documents"] = textprep.chunk_documents_sql(
        _CHUNK_MAX, _CHUNK_OVERLAP
    )
    out["pack_sequences"] = textprep.pack_sequences_sql(_PACK_SEQ_LEN)
    out["redact_pii"] = textprep.redact_pii_sql()
    out["decontaminate"] = textprep.decontaminate_sql(
        _DECON_WHERE, n=_DECON_N, min_hits=1
    )
    out["stratified_sample"] = textprep.stratified_sample_sql(
        "source", _SAMPLE_FRACTION, select="doc_id, source"
    )
    out["media_meta"] = multimodal.media_meta_sql()
    from lucene_spark.operators.pipeline import clean_corpus_sql
    out["clean_corpus"] = clean_corpus_sql(3, 0.5, 0.3)
    # ann_ivf_topk, ann_ivf_quantized: rows-only (KMeans centroids are model
    # state, not SQL); ann_hnsw_quantized: rows-only (graph state) — both
    # recall-pinned in pytest; the quantization itself IS fully
    # oracle-checked via ann_quantized_topk
    # ann_hnsw_topk, ann_hnsw_filtered: rows-only (graph construction is not
    # SQL-expressible; recall + bit-reproducibility + filtered recall and
    # exact-fallback identity pinned in pytest)
    # ann_lsh_topk, media_features: rows-only (stub decode / LSH bucketing
    # verified in pytest against the brute-force baseline instead)
    return out

"""SimilarityBase family (functions/simbase.py): formula unit pins,
engine integration vs brute-force replay, multi-term MultiSimScorer
sums, reference quirks (Indri no-boost + ctor collection model, DFI
clamp, LMD clamp), and the weight-channel contract.

The heavy parity evidence lives in tools/sim_parity.py (compiled
reference classes, 40k randomized cases, bit-exact) — these tests pin
the engine WIRING: weights built from real index stats, phrase/synonym
folds, and routing (pushdown bypass, pruned-path guard)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from lucene_spark.functions import simbase
from lucene_spark.functions.smallfloat import LENGTH_TABLE
from lucene_spark.query.ast import (
    BooleanQuery,
    PhraseQuery,
    PrefixQuery,
    SynonymQuery,
    TermQuery,
)
from lucene_spark.query.search import IndexSearcher


# ------------------------------------------------------------- units

def _dl(nb: int) -> float:
    return float(LENGTH_TABLE[nb & 0xFF])


def test_lm_dirichlet_formula():
    sim = simbase.LMDirichletSim()
    sim.bind_collection(1000, 50_000)
    w = sim.term_weight(1.0, 30, 90)
    f, nb = 3.0, 40
    p = (90 + 1.0) / (50_000 + 1.0)
    exp = math.log(1 + f / (2000.0 * p)) + math.log(
        2000.0 / (_dl(nb) + 2000.0))
    got = sim.score(np.array([f]), np.array([nb]), w)[0]
    assert got == np.float32(max(exp, 0.0))


def test_lm_dirichlet_clamps_at_zero():
    sim = simbase.LMDirichletSim()
    sim.bind_collection(10, 100_000)   # huge collection prob, long doc
    w = sim.term_weight(1.0, 10, 90_000)
    got = sim.score(np.array([1.0]), np.array([255]), w)[0]
    assert got == np.float32(0.0)


def test_indri_no_boost_and_negative():
    sim = simbase.IndriDirichletSim()
    sim.bind_collection(100, 5_000)
    w1 = sim.term_weight(1.0, 10, 50)
    w7 = sim.term_weight(7.5, 10, 50)
    s1 = sim.score(np.array([2.0]), np.array([100]), w1)[0]
    s7 = sim.score(np.array([2.0]), np.array([100]), w7)[0]
    assert s1 == s7          # boost ignored (reference quirk)
    assert s1 < 0            # Dirichlet log-prob is negative here


def test_indri_ctor_collection_model_quirk():
    """IndriDirichletSimilarity(float mu) inherits the DEFAULT collection
    model (p=(ttf+1)/(T+1)); only the no-arg ctor uses ttf/T."""
    a = simbase.IndriDirichletSim(2000.0, collection_model="indri")
    b = simbase.IndriDirichletSim(2000.0, collection_model="default")
    for s in (a, b):
        s.bind_collection(100, 5_000)
    wa = a.term_weight(1.0, 10, 50)
    wb = b.term_weight(1.0, 10, 50)
    sa = a.score(np.array([2.0]), np.array([100]), wa)[0]
    sb = b.score(np.array([2.0]), np.array([100]), wb)[0]
    assert sa != sb


def test_dfi_zero_below_expected():
    sim = simbase.DFISim("chisquared")
    sim.bind_collection(100, 10_000)
    w = sim.term_weight(1.0, 50, 5_000)   # hot term: high expectation
    # freq 1 in a long doc is below (ttf+1)*dl/(T+1)
    assert sim.score(np.array([1.0]), np.array([200]), w)[0] == 0.0
    # a large freq in a short doc clears it
    assert sim.score(np.array([50.0]), np.array([10]), w)[0] > 0.0


def test_axiomatic_gamma_floor():
    sim = simbase.AxiomaticSim("f3log", query_len=5)
    sim.bind_collection(100, 1_000)   # avgfl 10; long docs go negative
    w = sim.term_weight(1.0, 90, 900)
    got = sim.score(np.array([1.0]), np.array([255]), w)[0]
    assert got == np.float32(0.0)     # Math.max(0, .) floor


def test_multiweight_is_double_sum_of_f32():
    sim = simbase.DFRSim()
    sim.bind_collection(500, 20_000)
    pairs = [(10, 40), (200, 3_000), (3, 3)]
    mw = sim.multi_weight(2.0, pairs)
    f = np.array([4.0])
    nb = np.array([60])
    acc = np.float64(0.0)
    for df, ttf in pairs:
        acc += np.float64(
            sim.score(f, nb, sim.term_weight(2.0, df, ttf))[0])
    assert sim.score(f, nb, mw)[0] == np.float32(acc)


def test_multisim_sums_mixed_subs():
    from lucene_spark.functions.bm25 import avgdl
    from lucene_spark.functions.similarity import BM25Sim

    n, t = 400, 16_000
    bm = BM25Sim(avgdl(t, n))
    lmd = simbase.LMDirichletSim()
    ms = simbase.MultiSim([bm, lmd])
    ms.bind_collection(n, t)
    w = ms.term_weight(1.5, 25, 70)
    f, nb = np.array([3.0]), np.array([45])
    sub_bm = bm.score(f, nb, np.float32(np.float32(1.5) * bm.idf(25, n)))[0]
    lmd_w = lmd.term_weight(1.5, 25, 70)
    sub_lmd = lmd.score(f, nb, lmd_w)[0]
    exp = np.float32(np.float64(sub_bm) + np.float64(sub_lmd))
    assert ms.score(f, nb, w)[0] == exp


def test_unbound_sim_raises():
    sim = simbase.LMDirichletSim()
    with pytest.raises(ValueError, match="not bound"):
        sim.term_weight(1.0, 1, 1)


def test_param_validation():
    with pytest.raises(ValueError):
        simbase.DFRSim(basic_model="nope")
    with pytest.raises(ValueError):
        simbase.DFRSim(normalization="z", z=0.6)
    with pytest.raises(ValueError):
        simbase.AxiomaticSim("f2exp", s=1.5)
    with pytest.raises(ValueError):
        simbase.LMJelinekMercerSim(0.0)
    with pytest.raises(ValueError):
        simbase.IndriDirichletSim(collection_model="x")


# -------------------------------------------------- engine integration

def _brute_term_topk(s: IndexSearcher, sim, term: str, k: int,
                     boost: float = 1.0):
    stats = s.term_stats([term])
    if term not in stats:
        return []
    w = sim.term_weight(boost, *stats[term])
    pos = s.positions_table().filter(F_col_term(term, s)).collect()
    norms = {r["doc_id"]: r["norm_byte"]
             for r in s.docmap().select("doc_id", "norm_byte").collect()}
    rows = []
    for r in pos:
        f = float(len(r["positions"]))
        sc = float(sim.score(np.array([f]), np.array([norms[r["doc_id"]]]),
                             w)[0])
        rows.append((r["doc_id"], np.float32(sc)))
    rows.sort(key=lambda x: (-x[1], x[0]))
    return rows[:k]


def F_col_term(term, s):
    import pyspark.sql.functions as F

    from lucene_spark.index.merge import term_bucket_of

    return (F.col("term_bucket") == term_bucket_of(term, s.buckets)) & (
        F.col("term") == term)


SPECS_UNDER_TEST = ["lm_dirichlet", "lm_jelinek_mercer", "indri_dirichlet",
                    "dfi_saturated", "axiomatic_f2log", "dfr_g_l_h1",
                    "ib_spl_df_h2"]


@pytest.mark.parametrize("spec", SPECS_UNDER_TEST)
def test_term_query_matches_brute_force(built_index, spark, spec):  # noqa: F811
    s = IndexSearcher(spark, built_index, similarity=spec)
    got = [(r.doc_id, np.float32(r.score))
           for r in s.search(TermQuery("be"), 12).collect()]
    exp = _brute_term_topk(s, s.sim, "be", 12)
    assert got and got == exp


def test_phrase_is_multisimscorer_sum(built_index, spark):  # noqa: F811
    s = IndexSearcher(spark, built_index, similarity="lm_dirichlet")
    hits = {r.doc_id: np.float32(r.score)
            for r in s.search(PhraseQuery(("ba", "be")), 200).collect()}
    assert hits
    stats = s.term_stats(["ba", "be"])
    norms = {r["doc_id"]: r["norm_byte"]
             for r in s.docmap().select("doc_id", "norm_byte").collect()}
    # phrase freq per doc from positions (slop=0 adjacency)
    import pyspark.sql.functions as F
    pos = (
        s.positions_table()
        .filter(F.col("term").isin(["ba", "be"]))
        .collect()
    )
    by_doc: dict[int, dict[str, list[int]]] = {}
    for r in pos:
        by_doc.setdefault(r["doc_id"], {})[r["term"]] = list(r["positions"])
    for doc, sc in hits.items():
        pp = by_doc[doc]
        freq = float(len(
            {p for p in pp.get("ba", []) if p + 1 in set(pp.get("be", []))}
        ))
        mw = s.sim.multi_weight(1.0, [stats["ba"], stats["be"]])
        exp = s.sim.score(np.array([freq]), np.array([norms[doc]]), mw)[0]
        assert sc == np.float32(exp)


def test_synonym_blended_pseudo_stats(built_index, spark):  # noqa: F811
    s = IndexSearcher(spark, built_index, similarity="lm_dirichlet")
    got = {r.doc_id: np.float32(r.score)
           for r in s.search(SynonymQuery(("be", "bi")), 600).collect()}
    assert got
    stats = s.term_stats(["be", "bi"])
    df_b = max(v[0] for v in stats.values())
    ttf_b = sum(v[1] for v in stats.values())
    w = s.sim.term_weight(1.0, df_b, ttf_b)
    norms = {r["doc_id"]: r["norm_byte"]
             for r in s.docmap().select("doc_id", "norm_byte").collect()}
    import pyspark.sql.functions as F
    pos = (s.positions_table()
           .filter(F.col("term").isin(["be", "bi"])).collect())
    freq: dict[int, float] = {}
    for r in pos:
        freq[r["doc_id"]] = freq.get(r["doc_id"], 0.0) + len(r["positions"])
    for doc, sc in got.items():
        exp = s.sim.score(np.array([freq[doc]]),
                          np.array([norms[doc]]), w)[0]
        assert sc == np.float32(exp)


def test_prefix_routes_through_bounded_rewrite(built_index, spark):  # noqa: F811
    """Stats sims bypass the metadata-df pushdown (needs ttf) — the
    SHOULD rewrite must produce the same docs as BM25's pushdown path
    and score each term with full TermStatistics."""
    s_lm = IndexSearcher(spark, built_index, similarity="lm_dirichlet")
    assert s_lm._bare_multi_term(PrefixQuery("bo")) is None
    got = s_lm.search(PrefixQuery("bo"), 500).collect()
    assert got
    s_bm = IndexSearcher(spark, built_index)
    exp_docs = {r.doc_id for r in s_bm.search(PrefixQuery("bo"), 500).collect()}
    assert {r.doc_id for r in got} == exp_docs


def test_pruned_path_rejects_stats_sims(built_index, spark):  # noqa: F811
    s = IndexSearcher(spark, built_index, similarity="dfi_chisquared")
    with pytest.raises(ValueError, match="BM25"):
        s.search_pruned(TermQuery("be"), 5)


def test_boolean_combination_identity(built_index, spark):  # noqa: F811
    """MUST+SHOULD combination under a stats sim: leaf scores feed the
    same double-sum/ReqOpt machinery; verify against per-clause replay."""
    s = IndexSearcher(spark, built_index, similarity="axiomatic_f1exp")
    q = BooleanQuery(must=[TermQuery("be")], should=[TermQuery("bi")])
    got = {r.doc_id: np.float32(r.score) for r in s.search(q, 15).collect()}
    assert got
    must = dict(_brute_term_topk(s, s.sim, "be", 10**6))
    opt = dict(_brute_term_topk(s, s.sim, "bi", 10**6))
    for doc, sc in got.items():
        exp = np.float64(np.float32(must[doc]))
        if doc in opt:
            exp = np.float64(np.float32(exp)) + np.float64(opt[doc])
        assert sc == np.float32(exp)

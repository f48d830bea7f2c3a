"""Stempel (Egothor) Polish stemmer (functions/stempel.py): compiled-class
goldens, StempelFilter min-length/null-stem semantics, the runtime
resource protocol, and the polish chain end-to-end. The full parity fuzz
(tools/stempel_parity.py) runs 2x60k words against the compiled egothor
classes with 0 mismatches; these goldens were PRINTED FROM that compiled
driver (never hand-guessed)."""

from __future__ import annotations

import pytest

from lucene_spark.functions.stempel import (
    StempelUnavailable, available, polish_chain_transform, pl_stop,
    stempel_stem,
)

# the table and stop file live in a Lucene source tree, never in this repo
needs_stempel = pytest.mark.skipif(
    not available(),
    reason="stempel resources (stemmer_20000.tbl, stopwords.txt) not found "
           "under $LUCENE_SPARK_REF_DIR")

# printed from the compiled MultiTrie2 + Diff over the in-tree table
GOLDENS = [
    ("kotów", "kot"),
    ("domami", "dom"),
    ("uczyliśmy", "uczyć"),
    ("najpiękniejszy", "najpiękny"),
    ("przyjaciółmi", "przyjaciółmi"),
    ("zrobiwszy", "zrobić"),
    ("query", "ć"),       # ASCII words hit patch commands too -
    ("value", "ć"),       # - and these two COLLIDE (df merge in the index)
    ("line", "liny"),
    ("scan", "scan"),
    ("żółć", "żółcić"),
    ("polskiego", "polski"),
    ("miastach", "miasto"),
    ("dziećmi", "dziecko"),
]


@needs_stempel
def test_stempel_goldens():
    for w, exp in GOLDENS:
        assert stempel_stem(w) == exp, w


@needs_stempel
def test_filter_semantics():
    # words shorter than DEFAULT_MIN_LENGTH=3 pass unchanged
    assert polish_chain_transform("ab") == "ab"
    assert polish_chain_transform("a") == "a"
    # >=3: stemmed
    assert polish_chain_transform("kotów") == "kot"
    # a stem that would empty the buffer passes unchanged (null-stem arm)
    assert polish_chain_transform("query") == "ć"


@needs_stempel
def test_stop_set_loaded():
    s = pl_stop()
    assert {"oraz", "przez", "jest"} <= s
    assert len(s) > 150


def test_unavailable_raises(monkeypatch):
    import lucene_spark.functions.stempel as st

    monkeypatch.setenv("LUCENE_SPARK_REF_DIR", "/nonexistent")
    st._TABLE.clear()
    with pytest.raises(StempelUnavailable, match="LUCENE_SPARK_REF_DIR"):
        st._stemmer()
    monkeypatch.delenv("LUCENE_SPARK_REF_DIR")
    st._TABLE.clear()


def test_polish_build_fails_fast_on_driver(spark, tmp_path, monkeypatch):
    """Without the resources a polish build raises the plain
    StempelUnavailable on the driver, before any Spark job (not a
    PythonException out of the first analyze task)."""
    import pandas as pd

    from lucene_spark.index.build import IndexConfig, build_index
    from tests.test_term_stats import _jobs_of

    monkeypatch.setenv("LUCENE_SPARK_REF_DIR", "/nonexistent")
    rows = pd.DataFrame({
        "conv_id": ["c0"], "turn_idx": [0], "role": ["doc"],
        "text": ["kotów i domami"], "tool": [None],
        "ts": pd.to_datetime(["2026-01-01"]),
    })
    df = spark.createDataFrame(rows)

    def build():
        with pytest.raises(StempelUnavailable, match="LUCENE_SPARK_REF_DIR"):
            build_index(spark, df, str(tmp_path / "pl"),
                        IndexConfig(num_segments=1, term_buckets=2,
                                    analyzer="polish"))

    assert _jobs_of(spark, build) == 0


@needs_stempel
def test_polish_chain_end_to_end(spark, tmp_path):
    """Index under the polish chain: 'query'/'value' collide into one term
    'ć' whose df covers both source words — search for the stem finds docs
    containing either."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from lucene_spark.index.build import IndexConfig, build_index
    from lucene_spark.index.merge import merge_index
    from lucene_spark.query.ast import TermQuery
    from lucene_spark.query.search import IndexSearcher

    texts = ["query plan details", "value of the column", "scan only here",
             "kotów i domami", "oraz przez jest query"]
    rows = pd.DataFrame({
        "conv_id": [f"c{i}" for i in range(len(texts))],
        "turn_idx": [0] * len(texts), "role": ["doc"] * len(texts),
        "text": texts, "tool": [None] * len(texts),
        "ts": pd.to_datetime(["2026-01-01"] * len(texts)),
    })
    idx = str(tmp_path / "pl")
    build_index(spark, spark.createDataFrame(rows), idx,
                IndexConfig(num_segments=1, term_buckets=2,
                            analyzer="polish"))
    merge_index(spark, idx)
    s = IndexSearcher(spark, idx)
    hits = {r["doc_id"] for r in s.search(TermQuery("ć"), 10).collect()}
    assert hits == {0, 1, 4}  # query docs + value doc
    # the polish stopwords dropped 'oraz przez jest' from doc 4: its
    # field_len counts only the surviving tokens... positions preserved
    stats = s.term_stats(["ć", "kot", "dom"])
    assert stats["ć"][0] == 3
    assert stats["kot"][0] == 1 and stats["dom"][0] == 1


def test_dictionary_builders_follow_ref_dir(monkeypatch, tmp_path):
    """The builders ``kuromoji.ensure_ja_dict_dir`` and
    ``nori.ensure_ko_dict_dir`` load read the Lucene tree under
    ``$LUCENE_SPARK_REF_DIR``, the tree ``available()`` checks. Only
    their module constants are read: nothing is compiled or built."""
    import importlib

    import lucene_spark.functions.stempel as st

    mods = [importlib.import_module(f"tools.{name}") for name in
            ("kuromoji_parity", "nori_parity", "build_ref_core")]
    paths = ("REF", "JA_RES", "KO_RES", "UDICT", "REF_CORE", "REF_HUNSPELL",
             "REF_WIKIPEDIA", "REF_MISC_INDEX", "REF_VHL", "REF_FSQ",
             "REF_HL")

    def lucene_paths():
        return [getattr(m, p) for m in mods for p in paths if hasattr(m, p)]

    monkeypatch.setenv("LUCENE_SPARK_REF_DIR", str(tmp_path))
    try:
        mods = [importlib.reload(m) for m in mods]
        kp, nori_p, brc = mods
        assert kp.REF == nori_p.REF == str(tmp_path / "lucene" / "analysis")
        assert brc.REF_CORE == f"{tmp_path}/lucene/core/src/java"
        got = lucene_paths()
        assert len(got) == 13
        assert all(p.startswith(f"{tmp_path}/lucene") for p in got), got
    finally:
        monkeypatch.delenv("LUCENE_SPARK_REF_DIR")
        mods = [importlib.reload(m) for m in mods]
    assert all(p.startswith(f"{st._REF_DEFAULT}/lucene")
               for p in lucene_paths())

"""Character-bigram language ID (operators/langid.py): planted
multilingual fixture accuracy and DuckDB-oracle parity of both the
batch scorer and the Spark operator (the lang_id gate query's
contract)."""

import duckdb
import numpy as np
import pandas as pd
import pytest

from nuclei_feature_extraction_spark.operators.langid import (
    LANGS,
    _WORDS,
    _score_batch,
    oracle_fragments,
    with_lang_scores,
)
from nuclei_feature_extraction_spark.operators.text import with_lang_id


def _planted_corpus(n_per_lang: int = 150, seed: int = 29) -> pd.DataFrame:
    """Word-salad sentences sampled from each language's common-word
    list (8-14 words), 20% of them with an injected hex-noise token,
    plus junk rows that must land 'unknown'."""
    rng = np.random.default_rng(seed)
    rows = []
    for lang in LANGS:
        words = _WORDS[lang]
        for i in range(n_per_lang):
            k = int(rng.integers(8, 15))
            toks = list(rng.choice(words, size=k))
            if rng.random() < 0.2:
                toks.insert(
                    int(rng.integers(0, len(toks))),
                    f"{rng.integers(0, 1 << 48):012x}",
                )
            rows.append((lang, " ".join(toks)))
    rows += [
        ("unknown", "短 文 本 漢 字"),   # CJK → near-empty gram stream
        ("unknown", "x"),
        ("unknown", ""),
        ("unknown", "!!! ??? !!!"),
        ("unknown", "12345 67890 11111"),
    ]
    pdf = pd.DataFrame(rows, columns=["lang", "text"])
    pdf.insert(0, "doc_id", range(len(pdf)))
    return pdf


def test_planted_multilingual_accuracy():
    pdf = _planted_corpus()
    res = _score_batch(pdf["text"])
    pdf["pred"] = res["lang_pred"].to_numpy()
    report = {}
    for lang in (*LANGS, "unknown"):
        sub = pdf[pdf["lang"] == lang]
        report[lang] = float((sub["pred"] == lang).mean())
    overall = float((pdf["pred"] == pdf["lang"]).mean())
    report["overall"] = overall
    print(f"langid planted accuracy: {report}")
    for lang in LANGS:
        assert report[lang] >= 0.95, report
    assert report["unknown"] == 1.0, report
    assert overall >= 0.97, report


def test_holdout_prose_accuracy():
    """HELD-OUT evaluation (VERDICT r6 ask #2): original prose sentences
    whose content words are NOT drawn from ``_WORDS`` (see
    ``tests/langid_holdout.py``) — the model must generalize through
    character-bigram statistics, not vocabulary memorization. The
    planted-corpus test above is in-sample by construction; THIS number
    is the accuracy claim PARITY.md records."""
    from langid_holdout import HOLDOUT

    rows = [(lg, s) for lg, ss in HOLDOUT.items() for s in ss]
    pdf = pd.DataFrame(rows, columns=["lang", "text"])
    pdf["pred"] = _score_batch(pdf["text"])["lang_pred"].to_numpy()
    report = {}
    confusion = {}
    for lang in (*LANGS, "unknown"):
        sub = pdf[pdf["lang"] == lang]
        report[lang] = float((sub["pred"] == lang).mean())
        confusion[lang] = sub["pred"].value_counts().to_dict()
    report["overall"] = float((pdf["pred"] == pdf["lang"]).mean())
    print(f"langid HELD-OUT accuracy: {report}")
    print(f"langid HELD-OUT confusion: {confusion}")
    for lang in LANGS:
        assert report[lang] >= 0.9, (report, confusion)
    # non-Latin scripts normalize to near-empty gram streams -> unknown
    # by design; the only tolerated 'unknown' miss is noise composed of
    # in-alphabet letters (hex strings), which no bigram model can
    # reject — assert the script-based rows individually
    for t, p in zip(pdf[pdf["lang"] == "unknown"]["text"],
                    pdf[pdf["lang"] == "unknown"]["pred"]):
        if not any(c.isascii() and c.isalpha() for c in t):
            assert p == "unknown", (t, p)
    assert report["unknown"] >= 0.8, confusion
    assert report["overall"] >= 0.9, report


def test_spark_scores_match_duckdb_oracle(spark):
    """The Spark scorer and the DuckDB oracle (the lang_id gate query's
    SQL) agree on the planted corpus: the same prediction on every row,
    null text included, and the same integer margin and gram count on
    every row with text (the oracle scores a null text as one unseen
    bigram, so its margin there is not 0)."""
    pdf = _planted_corpus(n_per_lang=40, seed=31)
    pdf = pd.concat(
        [pdf, pd.DataFrame({"doc_id": [9999], "lang": ["unknown"],
                            "text": [None]})],
        ignore_index=True,
    )
    df = spark.createDataFrame(pdf[["doc_id", "text"]])
    got = (
        with_lang_scores(df)
        .select("doc_id", "lang_pred", "lang_margin", "lang_grams")
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("documents", pdf[["doc_id", "text"]])
    want = (
        con.execute(oracle_fragments()).df()
        .sort_values("doc_id").reset_index(drop=True)
    )
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    assert (got["lang_pred"] == want["lang_pred"]).all()
    has_text = pdf.sort_values("doc_id")["text"].notna().to_numpy()
    got, want = got[has_text], want[has_text]
    assert (
        got["lang_margin"].astype("int64")
        == want["lang_margin"].astype("int64")
    ).all()
    assert (got["lang_grams"].astype("int64") == want["n"].astype("int64")).all()


def test_oracle_parity_with_nulls():
    pdf = _planted_corpus(n_per_lang=40, seed=37)
    pdf = pd.concat(
        [pdf, pd.DataFrame({"doc_id": [9999], "lang": ["unknown"],
                            "text": [None]})],
        ignore_index=True,
    )
    py = _score_batch(pdf["text"])
    py = pd.DataFrame(
        {"doc_id": pdf["doc_id"], "lang_pred": py["lang_pred"],
         "lang_margin": py["lang_margin"]}
    )
    con = duckdb.connect()
    con.register("documents", pdf[["doc_id", "text"]])
    db = (
        con.execute(oracle_fragments()).df()
        .sort_values("doc_id").reset_index(drop=True)
    )
    merged = py.merge(db, on="doc_id", suffixes=("_py", "_db"))
    assert (merged["lang_pred_py"] == merged["lang_pred_db"]).all()
    scored = merged[merged["lang_grams"] >= 1] if "lang_grams" in merged \
        else merged[merged["n"].notna()]
    assert (
        scored["lang_margin_py"].astype("int64")
        == scored["lang_margin_db"].astype("int64")
    ).all()


def test_with_lang_id_compat_surface(spark):
    """with_lang_id keeps the legacy stopword_ratio column and feeds the
    quality/curation call sites unchanged; English prose lands 'en'."""
    df = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [0, 1],
             "text": ["the quick brown fox jumps over the lazy dog",
                      "!!! 12345 ??"]}
        )
    )
    got = with_lang_id(df).toPandas().sort_values("doc_id")
    assert {"stopword_ratio", "lang_pred", "lang_margin",
            "lang_grams"} <= set(got.columns)
    assert got["lang_pred"].tolist() == ["en", "unknown"]


def test_unknown_rule_is_deterministic():
    """Short / empty / null inputs take the unknown path, never a
    language."""
    res = _score_batch(pd.Series([None, "", " ", "ab", "12 34 !?"]))
    assert (res["lang_pred"] == "unknown").all()

"""Arrow shingle postings == the interpreted higher-order expression
they replaced, posting for posting. The expression lives here as the
reference; the n-gram operators run only the Arrow pass."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from nuclei_feature_extraction_spark.operators import dedup
from nuclei_feature_extraction_spark.operators.dedup import (
    _shingle_postings,
    _word_shingles,
    ngram_contamination,
)


def _hof_postings(df, id_col="doc_id", text_col="text", shingle=3):
    """Reference (id, s) postings: distinct shingles built by the
    interpreted ``transform(sequence(...), i -> concat_ws(...))``."""
    sh = F.explode(F.array_distinct(_word_shingles(text_col, shingle)))
    return df.select(F.col(id_col), sh.alias("s"))


@pytest.fixture(scope="module")
def spark():
    from nuclei_feature_extraction_spark.session import get_spark

    return get_spark(master="local[4]", shuffle_partitions=8,
                     app_name="test-shingle-backend")


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "a b"),                      # shorter than the shingle window
        (2, "single"),                   # one token
        (3, ""),                         # empty text → one '' token
        (4, "  leading and trailing  spaced   tokens here"),
        (5, "dup dup dup dup dup"),      # within-row duplicate shingles
        (6, "Mixed CASE Tokens mixed case tokens mixed case tokens"),
        (7, "the quick brown fox jumps over the lazy dog"),  # cross-doc dup
        (8, None),                       # null text → no postings / null set
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(["doc_id", "s"]).reset_index(drop=True)


@pytest.mark.parametrize("shingle", [2, 3, 5])
def test_postings_match_hof_reference(spark, docs, shingle):
    arrow = _canon(_shingle_postings(docs, shingle=shingle).toPandas())
    hof = _canon(_hof_postings(docs, shingle=shingle).toPandas())
    pd.testing.assert_frame_equal(arrow, hof)


def _contamination_vs_reference(corpus, bench, monkeypatch):
    got = ngram_contamination(corpus, bench).toPandas()
    monkeypatch.setattr(dedup, "_shingle_postings", _hof_postings)
    want = ngram_contamination(corpus, bench).toPandas()
    got = got.sort_values("doc_id").reset_index(drop=True)
    want = want.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)


def test_contamination_matches_hof_reference(spark, docs, monkeypatch):
    bench = docs.filter("doc_id % 4 = 0")
    corpus = docs.filter("doc_id % 4 != 0")
    _contamination_vs_reference(corpus, bench, monkeypatch)


def test_contamination_benchmark_without_id_col(spark, docs, monkeypatch):
    # curation benchmark tables carry their own id name (bench_id) or
    # none — contamination must only read the benchmark's TEXT
    bench = docs.filter("doc_id % 4 = 0").selectExpr(
        "doc_id AS bench_id", "text"
    )
    corpus = docs.filter("doc_id % 4 != 0")
    _contamination_vs_reference(corpus, bench, monkeypatch)

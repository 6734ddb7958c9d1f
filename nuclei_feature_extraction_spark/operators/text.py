"""Text-analysis operators (training-data pipeline staples).

Everything is built-in ``pyspark.sql.functions`` — regex, split,
higher-order array ops — executed inside whole-stage codegen; no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny embedded stopword list (public, language-agnostic heuristics)
STOPWORDS = (
    "the a an and or of to in is are was were be been it this that for on "
    "with as at by from not no"
).split()

PUNCT_RE = r"[^.!?,;:]"
TOKEN_RE = r"[A-Za-z0-9_']+|[^\sA-Za-z0-9_']"  # BPE-ish: words + single punct


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """n_chars, n_tokens (whitespace), n_bpeish_tokens (regex),
    punct_count, punct_ratio, avg_token_len."""
    toks = F.split(F.col(text_col), r"\s+")
    n_tokens = F.size(toks)
    punct = F.length(F.regexp_replace(F.col(text_col), PUNCT_RE, ""))
    bpeish = F.size(F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), 0))
    return (
        df.withColumn("n_chars", F.length(text_col).cast("int"))
        .withColumn("n_tokens", n_tokens.cast("int"))
        .withColumn("n_bpeish_tokens", bpeish.cast("int"))
        .withColumn("punct_count", punct.cast("int"))
        .withColumn(
            "punct_ratio",
            F.round(punct / F.greatest(F.length(text_col), F.lit(1)), 6),
        )
        .withColumn(
            "avg_token_len",
            F.round(
                (F.length(text_col) - (n_tokens - 1))
                / F.greatest(n_tokens, F.lit(1)).cast("double"),
                6,
            ),
        )
    )


def with_repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style REPETITION signals (Rae et al. 2021 §A1.1 analog at
    word granularity — the fixtures carry no line breaks):

    - ``dup_word_frac``  : fraction of token occurrences that repeat an
      earlier token, ``1 − distinct/total``.
    - ``top_word_frac``  : share of the single most frequent token.
    - ``top_bigram_frac``: share of the most frequent word bigram.

    Pure Catalyst higher-order array expressions — no UDF, no shuffle,
    whole-stage codegen. The token array is materialized ONCE as a real
    column before the lambdas (HOF lambdas get no common-subexpression
    elimination: an inline split would re-split per element). The
    frequency scan is exact O(distinct × tokens) per row — fine for the
    ≤ tens-of-KB documents this targets; a sketch would replace it for
    book-length inputs."""
    toks = "__rep_toks"
    bgs = "__rep_bigrams"

    def top_frac(arr: str) -> Column:
        n = F.size(F.col(arr))
        counts = F.transform(
            F.array_distinct(F.col(arr)),
            lambda w: F.size(F.filter(F.col(arr), lambda t: t == w)),
        )
        return F.when(
            n > 0,
            F.round(
                F.array_max(counts).cast("double") / n.cast("double"), 6
            ) + 0.0,
        )

    out = (
        df.withColumn(toks, F.split(F.col(text_col), r"\s+"))
        .withColumn(
            bgs,
            # slice(toks, 1, 0) = typed empty array; sequence(1, 0)
            # would DESCEND ([1, 0]) and hit the invalid index 0
            F.expr(
                f"CASE WHEN size({toks}) > 1 THEN "
                f"transform(sequence(1, size({toks}) - 1), "
                f"i -> concat(element_at({toks}, i), ' ', "
                f"element_at({toks}, i + 1))) "
                f"ELSE slice({toks}, 1, 0) END"
            ),
        )
        .withColumn(
            "dup_word_frac",
            F.when(
                F.size(F.col(toks)) > 0,
                F.round(
                    1.0
                    - F.size(F.array_distinct(F.col(toks))).cast("double")
                    / F.size(F.col(toks)).cast("double"),
                    6,
                ) + 0.0,
            ),
        )
        .withColumn("top_word_frac", top_frac(toks))
        .withColumn("top_bigram_frac", top_frac(bgs))
    )
    return out.drop(toks, bgs)


def stopword_ratio(text_col: str = "text") -> Column:
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.round(hits / F.greatest(F.size(toks), F.lit(1)).cast("double"), 6)


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite heuristic quality score ∈ [0,1]: length band +
    punctuation sanity + stopword presence (Gopher-style rules,
    simplified)."""
    out = with_text_stats(df, text_col).withColumn(
        "stopword_ratio", stopword_ratio(text_col)
    )
    len_ok = (F.col("n_chars") >= 20) & (F.col("n_chars") <= 20_000)
    punct_ok = F.col("punct_ratio") <= 0.2
    sw_ok = F.col("stopword_ratio") >= 0.01
    score = (
        len_ok.cast("double") * 0.4
        + punct_ok.cast("double") * 0.3
        + sw_ok.cast("double") * 0.3
    )
    return out.withColumn("quality_score", F.round(score, 6))


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Language ID via the character-bigram log-likelihood model in
    :mod:`..operators.langid` (Cavnar & Trenkle 1994 profiles over
    embedded public word lists, integer milli-nat scoring —
    en/de/es/fr/it/pt or 'unknown', one vectorized Arrow batch scorer).
    Adds ``lang_pred`` / ``lang_margin`` / ``lang_grams`` plus the
    legacy ``stopword_ratio`` heuristic column."""
    from .langid import with_lang_scores

    return with_lang_scores(
        df.withColumn("stopword_ratio", stopword_ratio(text_col)), text_col
    )


def with_fingerprint(
    df: DataFrame, text_col: str = "text", n: int = 5, keep: int = 4
) -> DataFrame:
    """Document fingerprint: the ``keep`` smallest xxhash64 values over
    word n-grams (a winnowing-style rolling-hash sketch), packed as a
    sorted array — stable under small edits elsewhere in the doc."""
    toks = f"split(lower({text_col}), '\\\\s+')"
    ngrams = F.expr(
        f"transform(sequence(0, greatest(size({toks}) - {n}, 0)), "
        f"i -> xxhash64(concat_ws(' ', slice({toks}, i + 1, {n}))))"
    )
    fp = F.slice(F.array_sort(ngrams), 1, keep)
    return df.withColumn("fingerprint", fp)

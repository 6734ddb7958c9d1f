"""Deterministic, engine-reproducible splitting & sampling.

Training-data pipelines need train/val/test assignment that is (a) a
pure function of the row id — re-running the pipeline, adding rows, or
changing partitioning must never move an existing row between splits
(data leakage between train and eval) — and (b) reproducible OUTSIDE
Spark, so an auditor can recompute the assignment in any engine.

Mechanism: bucket = the first 4 hex chars of ``md5("{seed}:{id}")``
compared against cumulative-weight bounds in hex-string space (65,536
buckets). md5 produces identical lowercase hex everywhere (Spark,
DuckDB, Python's hashlib), and lexicographic comparison of fixed-width
lowercase hex == numeric comparison — so the SAME SQL reproduces the
SAME assignment in any engine, row for row (oracle-checked by the
``split_assign`` driver query). Everything is whole-stage-codegen
Catalyst expressions: no shuffle, no UDF, no RNG state.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_BUCKETS = 65536  # 16^4


def _hex_bucket(id_col: str, seed: str) -> Column:
    return F.substring(
        F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string"))), 1, 4
    )


def _bound_hex(cum_weight: float) -> str:
    b = min(int(cum_weight * _BUCKETS), _BUCKETS)
    if b >= _BUCKETS:
        # an always-true sentinel, NOT format(65536, "04x") == '10000':
        # a 5-char bound breaks the fixed-width lexicographic contract
        # ('ffff' < '10000' is False), silently keeping only ~1/16 of
        # rows. 'g' sorts after every hex char, so any 4-hex bucket
        # compares < 'g000' in every engine.
        return "g000"
    return format(b, "04x")


def with_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: Sequence[tuple[str, float]] = (
        ("train", 0.9),
        ("val", 0.05),
        ("test", 0.05),
    ),
    seed: str = "s0",
    out_col: str = "split",
) -> DataFrame:
    """Append a deterministic split label. ``weights`` are (name,
    fraction) in order; fractions must sum to 1 (last label absorbs the
    hex-rounding remainder). Changing ``seed`` produces an independent
    assignment; the id→split map is stable under any row addition,
    deletion, or reordering."""
    total = sum(w for _, w in weights)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    h = _hex_bucket(id_col, seed)
    expr: Column | None = None
    cum = 0.0
    for name, w in weights[:-1]:
        cum += w
        cond = h < F.lit(_bound_hex(cum))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = weights[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn(out_col, expr)


def pack_documents(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    token_col: str | None = None,
    text_col: str = "text",
    n_shard_hex: int = 2,
    seed: str = "pack0",
) -> DataFrame:
    """GPT-style streaming concat-and-chunk packing: documents are
    ordered deterministically within hash shards, conceptually
    concatenated, and cut into fixed ``budget``-token packs (a doc may
    straddle a pack boundary — standard pretraining packing; the
    trainer's loader slices by the emitted offsets).

    Returns every input column plus ``shard`` (md5-hex prefix,
    16^``n_shard_hex`` shards), ``n_tokens``, ``start_tok`` (the doc's
    first token offset within its shard's concatenation), ``pack_id``
    (= start_tok // budget) and ``pack_offset`` (= start_tok % budget).
    All integer arithmetic — bit-identical across engines.

    Scale shape: ONE shuffle (hash-shard partition + in-shard window
    sort by id); shards are independent, so parallelism = shard count —
    raise ``n_shard_hex`` to 3 (4096 shards) for very large corpora.
    Assignment is a pure function of (seed, ids, token counts): stable
    across reruns and partitionings, auditable in external SQL."""
    from pyspark.sql import Window

    if budget <= 0:
        raise ValueError("budget must be positive")
    toks = (
        F.col(token_col)
        if token_col
        else F.size(F.split(F.col(text_col), r"\s+"))
    ).cast("long")
    shard = F.substring(
        F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string"))),
        1,
        n_shard_hex,
    )
    out = df.withColumn("shard", shard).withColumn("n_tokens", toks)
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return (
        out.withColumn("start_tok", cum - F.col("n_tokens"))
        # integer `div`, not float /-then-cast: exact at any magnitude
        .withColumn("pack_id", F.expr(f"start_tok div {int(budget)}"))
        .withColumn("pack_offset", F.col("start_tok") % int(budget))
    )


def deterministic_sample(
    df: DataFrame,
    fraction: float,
    id_col: str = "doc_id",
    seed: str = "s0",
) -> DataFrame:
    """Stable ``fraction`` subsample: a row is in the sample iff its
    hex bucket < fraction·65536 — the same rows every run, and samples
    at fraction f' ⊃ f (nested: growing the sample never drops rows)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    return df.filter(_hex_bucket(id_col, seed) < F.lit(_bound_hex(fraction)))

"""Point-in-time (as-of) join — the engine's hot path.

The reference's patch lookup is a point-lookup join of each item
against an indexed side source (/root/reference/src/utils.rs:79-139;
SURVEY.md J1): every anchor row fetches the side value effective AT OR
BEFORE its own position. Here that becomes a distributed as-of join:
for each anchor ``(keys, left_ts)`` pick the side row with the greatest
``right_ts <= left_ts``.

Three physical strategies (same logical semantics; tests assert they
agree):

1. ``asof_join``        — union-tag + ``last(payload, ignorenulls)``
   over a (keys)-partitioned, ts-ordered window. One shuffle on the
   keys, sort-merge style, scales to 10^12 rows; AQE handles skew.
2. ``asof_join_broadcast`` — keyless / tiny side table: sorted arrays
   shipped inside an Arrow pandas UDF, ``np.searchsorted`` per batch.
   Zero shuffle (the analog of the reference's in-memory image source,
   utils.rs:141-206).
3. ``asof_join_cogrouped`` — cogroup + ``pd.merge_asof`` per key group;
   simple, good when groups are small and numerous.

Null policy is fixed (SURVEY.md §3.4): LEFT-join semantics with typed
nulls (plus optional inner), never silent row drops — the reference
drops failed lookups on one source and pads on the other
(utils.rs:110-126 vs 141-206); we standardize and count.

Leakage: the match condition is ``right_ts <= left_ts`` (inclusive),
ordered so side rows sort BEFORE anchor rows at equal ts; side rows
strictly after an anchor can never be selected. tests/test_leakage.py
proves it by mutating future side rows.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nuclei_feature_extraction_spark.functions.timeutil import epoch_seconds
from nuclei_feature_extraction_spark.zipcache import guard_zip_caches

_TS = "__asof_ts"
_SRC = "__asof_src"
_PAY = "__asof_payload"
_RTS = "__asof_rts"


def _value_cols(
    right: DataFrame, on: list[str], right_ts: str, value_cols: Sequence[str] | None
) -> list[str]:
    if value_cols is not None:
        return list(value_cols)
    return [c for c in right.columns if c not in (*on, right_ts)]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "effective_ts",
    value_cols: Sequence[str] | None = None,
    tie_cols: Sequence[str] = (),
    tolerance_seconds: float | None = None,
    how: str = "left",
    keep_right_ts: str | None = None,
    suffix: str = "",
) -> DataFrame:
    """Sort-merge-style as-of join via union-tag + last-ignorenulls.

    For each left row, attach the right row with the greatest
    ``right_ts <= left_ts`` (per ``on`` keys). Among right rows with
    equal ``right_ts``, the greatest ``tie_cols`` tuple wins
    (deterministic). ``tolerance_seconds`` nulls matches older than the
    horizon. The matched row is carried as ONE struct so multi-column
    matches are atomic (no per-column skew to older rows when a matched
    value is legitimately null).
    """
    on = [on] if isinstance(on, str) else list(on)
    if how not in ("left", "inner"):
        raise ValueError("how must be 'left' or 'inner'")
    vcols = _value_cols(right, on, right_ts, value_cols)
    out_names = {c: f"{c}{suffix}" for c in vcols}
    clash = set(out_names.values()) & set(left.columns)
    if clash:
        raise ValueError(f"output columns clash with left: {sorted(clash)}; pass suffix=")

    tie_aliases = [f"__asof_tie{i}" for i in range(len(tie_cols))]
    payload = F.struct(
        F.col(right_ts).alias(_RTS),
        *[F.col(c).alias(out_names[c]) for c in vcols],
    )
    r2 = right.select(
        *[F.col(k) for k in on],
        F.col(right_ts).alias(_TS),
        F.lit(0).alias(_SRC),
        payload.alias(_PAY),
        *[F.col(t).alias(a) for t, a in zip(tie_cols, tie_aliases)],
    )
    l2 = left.select(
        "*", F.col(left_ts).alias(_TS), F.lit(1).alias(_SRC)
    )
    unioned = l2.unionByName(r2, allowMissingColumns=True)

    w = (
        Window.partitionBy(*on)
        .orderBy(_TS, _SRC, *tie_aliases)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = F.last(_PAY, ignorenulls=True).over(w)
    if tolerance_seconds is not None:
        fresh = (
            epoch_seconds(F.col(_TS)) - epoch_seconds(matched[_RTS])
        ) <= F.lit(float(tolerance_seconds))
        matched = F.when(fresh, matched)

    res = unioned.withColumn("__m", matched).filter(F.col(_SRC) == 1)
    if how == "inner":
        res = res.filter(F.col("__m").isNotNull())
    keep = [c for c in left.columns]
    sel = [F.col(c) for c in keep]
    if keep_right_ts:
        sel.append(F.col("__m")[_RTS].alias(keep_right_ts))
    sel += [F.col("__m")[out_names[c]].alias(out_names[c]) for c in vcols]
    return res.select(*sel)


def asof_join_broadcast(
    left: DataFrame,
    right: DataFrame,
    left_ts: str = "ts",
    right_ts: str = "effective_ts",
    value_cols: Sequence[str] | None = None,
    tie_cols: Sequence[str] = (),
    tolerance_seconds: float | None = None,
    max_side_rows: int = 2_000_000,
) -> DataFrame:
    """Keyless as-of against a small global side table (broadcast path).

    The side table is collected once, sorted by ``right_ts``, and closed
    over by an Arrow pandas UDF that binary-searches each anchor batch
    (``np.searchsorted``, side='right' → inclusive ``<=`` semantics).
    No shuffle at all — the left plan stays narrow.

    Among side rows sharing the same ``right_ts``, the greatest
    ``tie_cols`` tuple wins (searchsorted picks the LAST row of the
    sorted run — same convention as ``asof_join``). Without tie_cols,
    duplicate-``right_ts`` resolution follows the side table's incoming
    row order, which is only deterministic if ``right_ts`` is unique.
    """
    vcols = _value_cols(right, [], right_ts, value_cols)
    fetch = list(dict.fromkeys([right_ts, *vcols, *tie_cols]))
    rpd = (
        right.select(*fetch)
        .orderBy(right_ts, *tie_cols)
        .toPandas()
    )
    if len(rpd) > max_side_rows:
        raise ValueError(
            f"broadcast as-of side has {len(rpd)} rows > {max_side_rows}; "
            "use asof_join() instead"
        )
    rts = rpd[right_ts].to_numpy(dtype="datetime64[ns]").astype(np.int64)
    vals = {c: rpd[c].to_numpy() for c in vcols}
    tol_ns = None if tolerance_seconds is None else int(tolerance_seconds * 1e9)

    right_fields = {f.name: f.dataType for f in right.schema.fields}
    struct = T.StructType(
        [T.StructField(c, right_fields[c], True) for c in vcols]
    )

    @F.pandas_udf(returnType=struct)
    def _match(ts: pd.Series) -> pd.DataFrame:
        guard_zip_caches()
        t = ts.to_numpy(dtype="datetime64[ns]").astype(np.int64)
        idx = np.searchsorted(rts, t, side="right") - 1
        ok = idx >= 0
        if tol_ns is not None:
            ok &= (t - rts[np.clip(idx, 0, None)]) <= tol_ns
        safe = np.clip(idx, 0, None)
        data = {}
        for c, arr in vals.items():
            s = pd.Series(arr[safe]).astype(object)
            s[~ok] = None
            data[c] = s
        return pd.DataFrame(data)

    out = left.withColumn("__m", _match(F.col(left_ts)))
    sel = [F.col(c) for c in left.columns] + [
        F.col("__m")[c].alias(c) for c in vcols
    ]
    return out.select(*sel)


def asof_strategy_hint(
    left: DataFrame,
    on: str | Sequence[str],
    sample_fraction: float = 0.01,
    skew_share: float = 0.05,
    seed: int = 7,
) -> dict:
    """One cheap sampled aggregate → which physical as-of strategy to
    use. AQE's skew-join splitting does NOT apply to window partitions
    or cogroups: a hot key lands on one task either way. The difference
    is what that task does —

    - ``asof_join`` (union-window): the JVM sorts the hot partition with
      an EXTERNAL, spillable sort → slow but safe for a key holding 10%
      of 10^12 rows.
    - ``asof_join_cogrouped``: the whole hot key must materialize as ONE
      in-memory pandas frame → faster for many small groups (no window
      state machine), OOM for a giant key.

    So: skewed (hottest key ≥ ``skew_share`` of sampled rows) →
    'union_window'; uniform small groups → 'cogrouped' is admissible
    and often faster. Crossover measured in tests/test_asof.py +
    BENCH/BASELINE.md."""
    on = [on] if isinstance(on, str) else list(on)

    def _measure(fraction: float):
        s = left.select(*on)
        if fraction < 1.0:
            s = s.sample(fraction=fraction, seed=seed)
        return (
            s.groupBy(*on)
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max("n").alias("mx"), F.sum("n").alias("tot"))
            .collect()[0]
        )

    row = _measure(sample_fraction)
    # a too-small sample can't witness skew; small tables are cheap to
    # scan fully, so fall back to an exact measurement
    if sample_fraction < 1.0 and (row["tot"] or 0) < 1000:
        sample_fraction = 1.0
        row = _measure(1.0)
    if not row["tot"]:
        return {
            "strategy": "union_window",
            "hot_key_share": 0.0,
            "sample_fraction": sample_fraction,
        }
    share = float(row["mx"]) / float(row["tot"])
    return {
        "strategy": "union_window" if share >= skew_share else "cogrouped",
        "hot_key_share": round(share, 4),
        "sample_fraction": sample_fraction,
    }


def asof_join_cogrouped(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "effective_ts",
    value_cols: Sequence[str] | None = None,
    tie_cols: Sequence[str] = (),
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """As-of via cogroup + ``pd.merge_asof`` per key group (Arrow path).

    Both sides shuffle once on the keys; each group is merged with
    pandas' native backward as-of. Best when conversations are small
    and numerous; the union-window strategy is preferred for skewed
    giants (a pandas group must fit in executor memory).
    """
    on = [on] if isinstance(on, str) else list(on)
    vcols = _value_cols(right, on, right_ts, value_cols)
    out_schema = T.StructType(
        list(left.schema.fields)
        + [
            T.StructField(c, right.schema[c].dataType, True)
            for c in vcols
        ]
    )
    lcols = list(left.columns)
    tol = None if tolerance_seconds is None else pd.Timedelta(seconds=tolerance_seconds)

    def merge(lg: pd.DataFrame, rg: pd.DataFrame) -> pd.DataFrame:
        guard_zip_caches()
        lg = lg.sort_values(left_ts, kind="mergesort")
        if rg.empty:
            out = lg.copy()
            for c in vcols:
                out[c] = None
            return out[lcols + vcols]
        # secondary sort on tie_cols: merge_asof(backward) takes the
        # LAST equal-ts row, so ascending tie order makes the greatest
        # tie tuple win — same determinism contract as asof_join
        rg = rg.sort_values([right_ts, *tie_cols], kind="mergesort")
        merged = pd.merge_asof(
            lg,
            rg[[right_ts, *vcols]],
            left_on=left_ts,
            right_on=right_ts,
            direction="backward",
            allow_exact_matches=True,
            tolerance=tol,
        )
        return merged[lcols + vcols]

    return (
        left.groupBy(*on)
        .cogroup(right.groupBy(*on))
        .applyInPandas(merge, schema=out_schema)
    )

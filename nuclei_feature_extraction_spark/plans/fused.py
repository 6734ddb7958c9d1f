"""Fused single-shuffle feature pipeline — the 100 TB hot path.

The composable pipeline (plans/pipeline.py) is Catalyst-first: window
families as built-in expressions, kernels as one Arrow pass, as-of as
a union-window. Ideal for ad-hoc feature subsets — but for the FULL
feature vector it carries ~120 columns through a window sort and an
as-of shuffle. Measured on 32 cores, those wide-row stages burn ~3×
more CPU-seconds at 32 threads than at 8 (cache/DRAM contention in the
sorter) — they are memory-bandwidth-bound, and scaling efficiency dies.

The fused plan moves the entire computation into ONE Arrow pass over
NARROW input rows (the 6 transcript columns):

    scan (6 cols) → repartition(conv_id) → sortWithinPartitions
      → mapInArrow[ kernels + window features + as-of merges ] → sink

Wide rows exist only AFTER the last exchange, flowing straight to the
sink. Side tables ride in as broadcast sorted arrays (searchsorted —
the reference's in-memory point-lookup source, utils.rs:141-206); for
side tables too big to broadcast, fall back to the composable
union-window as-of AFTER the fused pass (still one narrow shuffle for
the features themselves).

Output is column-for-column allclose-equal to the composable pipeline
(pinned by tests/test_fused.py), so every correctness property proven
there (leakage, determinism, text equality) transfers.
"""

from __future__ import annotations

import time as _time
from collections.abc import Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nuclei_feature_extraction_spark.functions.kernels import (
    DEFAULT_LAGS,
    DEFAULT_LEVELS,
    Turns,
    conversation_pass,
    decode,
    feature_names,
    kernel_features,
    seg_first,
    _seg_cumsum,
    _seg_pos,
)

TWO_PI = 2.0 * 3.141592653589793

GABOR_WINDOWS = (4, 16, 64)
GABOR_PHASES = 4

WINDOW_FEATURE_COLS = (
    ["session_id"]
    + [f"tlen_lag{k}" for k in (1, 2, 3)]
    + [f"role_lag{k}" for k in (1, 2, 3)]
    + [f"tlen_r20_{s}" for s in ("mean", "std", "min", "max")]
    + [f"tlen_asst_r20_{s}" for s in ("mean", "std")]
    + ["tod_circmean_r20"]
    + [f"tlen_bank_w{w}_{s}" for w in (4, 16, 64) for s in ("mean", "std")]
    + [
        f"tlen_gabor_w{w}_p{p}_{s}"
        for w in GABOR_WINDOWS
        for p in range(GABOR_PHASES)
        for s in ("mean", "std")
    ]
)


def _seg_shift(arr: np.ndarray, pos: np.ndarray, k: int, fill) -> np.ndarray:
    ok = pos >= k
    idx = np.maximum(np.arange(len(arr)) - k, 0)
    return np.where(ok, arr[idx], fill)


def window_features(
    t: Turns, gap_minutes: float = 30.0, pos_offset: int = 0
) -> dict[str, np.ndarray]:
    """All window-family features over sorted whole conversations,
    numerically equal (1e-9) to the Catalyst expressions in
    operators/windows.py (pinned by test_fused.py). ``role_lag{k}`` are
    codes into ``t.roles`` (-1 for null); ``session_id`` is int32; every
    other column is float64.

    Trailing mean/std for EVERY (signal, window) pair come from ONE
    segmented cumsum pass over a single (n, k) block — rolling sum =
    csum[i] − csum[i−w] within the segment — instead of one pandas
    rolling call per stat (38 C passes + block consolidation dominated
    the round-1 profile: 17s → ~2s per 1M rows). Error stays bounded by
    the per-segment partial sums (groupby cumsum restarts per
    conversation, so nothing leaks across segments). Only min/max keep
    the pandas rolling deque (no cumsum identity exists)."""
    first = seg_first(t.conv)
    n = len(first)
    # pos_offset: ABSOLUTE position of row 0 within its conversation —
    # used by the streaming path, whose frame is a single conversation's
    # carried tail + new rows (position-dependent terms: gabor carriers,
    # window-fill counts, lag validity). Batch passes use 0.
    pos = _seg_pos(first) + pos_offset
    seg = np.cumsum(first)

    tlen = t.tlen
    role = t.role
    asst_code = list(t.roles).index("assistant") if "assistant" in t.roles else -2
    us = t.ts_us
    sec = us / 1e6

    out: dict[str, np.ndarray] = {}
    # sessionize: strictly greater than the cutoff splits. Compared in
    # INTEGER microseconds (µs values < 2^53 are exact in float64), the
    # same tree as the batch sessionize operator and the streaming
    # stateful sessionizer — the previous divide-by-1e6-then-subtract
    # form could drift ~1e-7 s and flip a row sitting exactly on the
    # 30-min boundary.
    prev_us = _seg_shift(us.astype(np.float64), pos, 1, np.nan)
    new_sess = (~np.isnan(prev_us)) & (
        (us - prev_us) > gap_minutes * 60.0 * 1e6
    )
    out["session_id"] = _seg_cumsum(new_sess.astype(np.float64), first).astype(
        np.int32
    )
    for k in (1, 2, 3):
        out[f"tlen_lag{k}"] = _seg_shift(tlen, pos, k, np.nan)
        out[f"role_lag{k}"] = _seg_shift(role, pos, k, -1)

    theta = (sec % 86400.0) / 86400.0 * TWO_PI
    is_asst = role == asst_code
    masked0 = np.where(is_asst, tlen, 0.0)  # NaN-as-0 + separate count

    # ---- one cumsum block of every moment needed ----------------------
    # Gabor phases never materialize: with I = Σcos(ωj)x, Q = Σsin(ωj)x
    # (and the 3 second moments a², ab, b²), every phase is a scalar
    # linear combination — 5 cumsum columns per window instead of 8.
    cols: list[np.ndarray] = [
        tlen, tlen * tlen, masked0, masked0 * masked0,
        is_asst.astype(np.float64), np.sin(theta), np.cos(theta),
    ]
    names = ["t1", "t2", "m1", "m2", "mc", "sin", "cos"]
    for w in GABOR_WINDOWS:
        omega = TWO_PI / w
        cw = np.cos(pos * omega)
        sw = np.sin(pos * omega)
        a = cw * tlen
        b = sw * tlen
        cols += [a, b, a * a, a * b, b * b]
        names += [f"a1_{w}", f"b1_{w}", f"aa_{w}", f"ab_{w}", f"bb_{w}"]
    k = len(cols)
    block = np.empty((n, k))
    for j, c in enumerate(cols):
        block[:, j] = c
    # global cumsum + per-segment offset: for pos ≥ w both rolling-sum
    # terms share the segment offset, so it cancels — one gather, no
    # groupby machinery. Chunk-bounded partial sums keep fp error far
    # under the 1e-9 parity tolerance (chunks are Arrow-batch sized).
    C = np.cumsum(block, axis=0)
    rows = np.arange(n)
    seg_start = np.maximum.accumulate(np.where(first, rows, 0))
    offs = C[np.maximum(seg_start - 1, 0)]
    offs[seg_start == 0] = 0.0
    jix = {nm: j for j, nm in enumerate(names)}
    _wcache: dict[int, tuple[np.ndarray, np.ndarray]] = {}

    def wnd(w: int):
        if w not in _wcache:
            _wcache[w] = (np.maximum(rows - w, 0), pos >= w)
        return _wcache[w]

    def wsum(nm: str, w: int) -> np.ndarray:
        j = jix[nm]
        idx, full = wnd(w)
        return C[:, j] - np.where(full, C[idx, j], offs[:, j])

    cntc: dict[int, np.ndarray] = {}

    def cnt(w: int) -> np.ndarray:
        if w not in cntc:
            cntc[w] = np.minimum(pos + 1, w).astype(np.float64)
        return cntc[w]

    def _var_floor(v: np.ndarray, e2: np.ndarray) -> np.ndarray:
        # E[x²]−m² cancellation noise is ~eps·E[x²]; a variance below
        # that floor is indistinguishable from 0 (a constant window) —
        # zero it so sqrt doesn't inflate noise to ~1e-6 (the n=1 case)
        return np.where(v < 1e-11 * np.abs(e2), 0.0, v)

    def mean_std(nm1: str, nm2: str, w: int, c: np.ndarray | None = None):
        c = cnt(w) if c is None else c
        with np.errstate(divide="ignore", invalid="ignore"):
            m = np.where(c > 0, wsum(nm1, w) / c, np.nan)
            e2 = wsum(nm2, w) / c
            v = np.where(c > 0, _var_floor(e2 - m * m, e2), np.nan)
        return m, np.sqrt(np.clip(v, 0.0, None))

    m, s = mean_std("t1", "t2", 20)
    out["tlen_r20_mean"], out["tlen_r20_std"] = m, s
    m, s = mean_std("m1", "m2", 20, c=wsum("mc", 20))
    out["tlen_asst_r20_mean"], out["tlen_asst_r20_std"] = m, s
    ms = wsum("sin", 20) / cnt(20)
    mc = wsum("cos", 20) / cnt(20)
    out["tod_circmean_r20"] = (np.degrees(np.arctan2(ms, mc)) + 360.0) % 360.0
    for w in (4, 16, 64):
        m, s = mean_std("t1", "t2", w)
        out[f"tlen_bank_w{w}_mean"], out[f"tlen_bank_w{w}_std"] = m, s
    for w in GABOR_WINDOWS:
        c = cnt(w)
        with np.errstate(divide="ignore", invalid="ignore"):
            mi, mq = wsum(f"a1_{w}", w) / c, wsum(f"b1_{w}", w) / c
            eaa, eab, ebb = (
                wsum(f"aa_{w}", w) / c,
                wsum(f"ab_{w}", w) / c,
                wsum(f"bb_{w}", w) / c,
            )
        for p in range(GABOR_PHASES):
            phi = p * 3.141592653589793 / GABOR_PHASES
            cp, sp = np.cos(phi), np.sin(phi)
            m = cp * mi - sp * mq
            e2 = cp * cp * eaa - 2 * cp * sp * eab + sp * sp * ebb
            out[f"tlen_gabor_w{w}_p{p}_mean"] = m
            out[f"tlen_gabor_w{w}_p{p}_std"] = np.sqrt(
                np.clip(_var_floor(e2 - m * m, e2), 0.0, None)
            )

    # min/max: no cumsum identity — pandas' O(n) monotonic deque
    gt = pd.Series(tlen).groupby(seg, sort=False).rolling(20, min_periods=1)
    out["tlen_r20_min"] = gt.min().to_numpy()
    out["tlen_r20_max"] = gt.max().to_numpy()
    return out


def _asof_arrays(side: pd.DataFrame):
    """Sorted flat arrays for the broadcast keyless as-of; ``effective_ts``
    holds UTC epoch microseconds, every other column is a value. String
    value columns are stored as (codes, categories) — integer codes
    broadcast smaller and decode C-side into the output batch so no
    per-row Python string is ever built."""
    side = side.sort_values("effective_ts", kind="mergesort")
    rts = side["effective_ts"].to_numpy(dtype=np.int64)
    vals: dict[str, tuple] = {}
    for c in side.columns.drop("effective_ts"):
        arr = side[c].to_numpy()
        if arr.dtype.kind == "O":
            codes, cats = pd.factorize(side[c], sort=False)
            vals[c] = ("cat", codes.astype(np.int64), cats.to_numpy(dtype=object))
        else:
            vals[c] = ("num", arr)
    return rts, vals


def _with_epoch_us(side: DataFrame) -> DataFrame:
    """``effective_ts`` as UTC epoch microseconds. ``toPandas()`` would
    render a timestamp as session-local wall time, while the Arrow
    batches carry UTC epoch values; integers compare equal in any
    session time zone."""
    return side.withColumn(
        "effective_ts", F.unix_micros(F.col("effective_ts").cast("timestamp"))
    )


def _searchsorted_pick(
    rts: np.ndarray, vals: dict[str, tuple], ts_us: np.ndarray
) -> dict[str, object]:
    """Rightmost side row with rts <= ts per output row, per value
    column: float64 with NaN, or an Arrow array with null, where no
    side row qualifies."""
    idx = np.searchsorted(rts, ts_us, side="right") - 1
    ok = idx >= 0
    safe = np.clip(idx, 0, None)
    out: dict[str, object] = {}
    for c, spec in vals.items():
        if spec[0] == "cat":
            out[c] = decode(np.where(ok, spec[1][safe], -1), spec[2])
        elif spec[1].dtype.kind == "f":
            v = spec[1][safe].astype(np.float64)
            v[~ok] = np.nan
            out[c] = v
        else:
            out[c] = pa.array(spec[1][safe], mask=~ok)
    return out


KERNEL_TIMER_FAMILIES = (
    "cooc", "runlen", "xcooc", "shape", "window", "sidelookup",
)


def kernel_timing_accumulators(spark) -> dict:
    """One float Spark accumulator per kernel family. Pass the dict as
    ``build_features_fused(..., kernel_timers=...)``; after the action,
    ``{f: acc.value}`` is the cluster-wide CPU-seconds per family (sum
    over tasks — divide by executor cores for wall share). Lets a run
    manifest expose e.g. the documented hull/shape share per-run.

    AT-LEAST-ONCE semantics: the adds happen inside a mapInArrow
    TRANSFORMATION, where Spark only guarantees at-least-once execution
    — task retries, speculative duplicates, and plan-branch
    recomputation each add their CPU time again. The numbers are a
    regression TRIPWIRE, not an exact meter: before reading a jump as a
    kernel regression, check the run for task failures/retries (the
    manifests record the caveat alongside the values)."""
    sc = spark.sparkContext
    return {f: sc.accumulator(0.0) for f in KERNEL_TIMER_FAMILIES}


def build_features_fused(
    df: DataFrame,
    side_profile: DataFrame | None = None,
    side_config: DataFrame | None = None,
    lags: Sequence[int] = DEFAULT_LAGS,
    levels: Sequence[int] = DEFAULT_LEVELS,
    gap_minutes: float = 30.0,
    num_partitions: int | None = None,
    max_broadcast_side_rows: int = 2_000_000,
    kernel_timers: dict | None = None,
) -> DataFrame:
    """Single-shuffle full feature vector; column-compatible with
    ``build_features(df, ["all"], side_profile, side_config)``.

    The kernel pass is the shared ``mapInArrow`` worker
    (:func:`~nuclei_feature_extraction_spark.functions.kernels.conversation_pass`):
    strings never box into Python objects (conv_id/role
    dictionary-encode C-side, text/tool pass through zero-copy, role
    lags and side-table picks decode from dictionary codes C-side).
    Every timestamp — the input rows' and the broadcast side arrays' —
    is compared as UTC epoch microseconds, so the output does not
    depend on the session time zone. A null ``conv_id`` is one
    conversation, as in the composable pipeline's ``partitionBy``.

    Side tables within ``max_broadcast_side_rows`` ride into the kernel
    as driver-built broadcast arrays (four flat numpy arrays sorted by
    (conv, ts) — 2M rows ≈ ~100 MB on the driver, hence the guard). A
    LARGER side table automatically falls back to the composable
    union-window as-of applied AFTER the fused pass: the features
    themselves still take exactly one narrow shuffle; only the as-of
    merge adds its own key-shuffle. The row count is checked with a
    cheap ``count()`` BEFORE any driver materialization.

    ``kernel_timers``: optional dict of Spark float accumulators (see
    :func:`kernel_timing_accumulators`) — each Arrow task adds its
    per-family kernel seconds (cooc/runlen/xcooc/shape + window +
    sidelookup), so the run manifest can report the family share of
    every run instead of leaving regressions to per-investigation
    profiling. Accumulator updates ride task completion — works
    identically on a real cluster."""
    spark = df.sparkSession

    def _too_big(side: DataFrame) -> bool:
        # limit(n+1).count() early-exits the scan after n+1 rows — a
        # full count() of a big side table costs a whole job just to
        # learn "too big"
        return (
            side.limit(max_broadcast_side_rows + 1).count()
            > max_broadcast_side_rows
        )

    fallback_profile = None
    if side_profile is not None and _too_big(side_profile):
        fallback_profile = side_profile
        side_profile = None
    fallback_config = None
    if side_config is not None and _too_big(side_config):
        fallback_config = side_config
        side_config = None

    profile_arrays = None
    if side_profile is not None:
        # flat sorted arrays + searchsorted slicing, NOT a per-conv dict:
        # a dict of 10^5+ conversations costs seconds of driver-side
        # Python to build and pickles as 10^5 objects; four numpy arrays
        # build in ~ms and broadcast as buffers. Sort by (conv, ts, plan)
        # keeps within-conv ts order and the greatest-plan tie-break;
        # null-conv rows go first, as a block of their own.
        ppd = _with_epoch_us(side_profile).toPandas()
        ppd["__valid"] = ppd["conv_id"].notna()
        ppd = ppd.sort_values(
            ["__valid", "conv_id", "effective_ts", "plan"], kind="mergesort"
        )
        n_null = len(ppd) - int(ppd["__valid"].sum())
        plan_codes, plan_cats = pd.factorize(ppd["plan"], sort=False)
        profile_arrays = (
            ppd["conv_id"].iloc[n_null:].to_numpy(dtype="U"),
            n_null,
            ppd["effective_ts"].to_numpy(dtype=np.int64),
            plan_codes.astype(np.int64),
            np.asarray(plan_cats, dtype=object),
            ppd["score"].to_numpy(dtype=np.float64),
        )
    cfg_arrays = None
    if side_config is not None:
        cpd = _with_epoch_us(side_config).toPandas()
        cfg_arrays = _asof_arrays(cpd)
    bc = spark.sparkContext.broadcast((profile_arrays, cfg_arrays))

    kcols = feature_names(("cooc", "runlen", "xcooc", "shape"), lags, levels)
    fields = (
        list(df.schema.fields)
        + [T.StructField("tlen", T.DoubleType(), True)]
        + [
            T.StructField(nm, T.DoubleType(), True)
            for nm in kcols
        ]
        + [
            T.StructField("session_id", T.IntegerType(), True),
            *[T.StructField(f"tlen_lag{k}", T.DoubleType(), True) for k in (1, 2, 3)],
            *[T.StructField(f"role_lag{k}", T.StringType(), True) for k in (1, 2, 3)],
            *[
                T.StructField(f"tlen_r20_{s}", T.DoubleType(), True)
                for s in ("mean", "std", "min", "max")
            ],
            *[
                T.StructField(f"tlen_asst_r20_{s}", T.DoubleType(), True)
                for s in ("mean", "std")
            ],
            T.StructField("tod_circmean_r20", T.DoubleType(), True),
            *[
                T.StructField(f"tlen_bank_w{w}_{s}", T.DoubleType(), True)
                for w in (4, 16, 64)
                for s in ("mean", "std")
            ],
            *[
                T.StructField(f"tlen_gabor_w{w}_p{p}_{s}", T.DoubleType(), True)
                for w in GABOR_WINDOWS
                for p in range(GABOR_PHASES)
                for s in ("mean", "std")
            ],
        ]
    )
    if side_profile is not None:
        fields += [
            T.StructField("plan", T.StringType(), True),
            T.StructField("score", T.DoubleType(), True),
        ]
    if side_config is not None:
        for c in cpd.columns:
            if c != "effective_ts":
                fields.append(T.StructField(c, side_config.schema[c].dataType, True))

    prep = df.select("*", F.length("text").cast("double").alias("tlen"))

    def compute(t: Turns, rb: pa.RecordBatch) -> dict[str, object]:
        """Every non-passthrough column of one batch of whole
        conversations: kernels, window families (role lags decoded from
        their codes) and the side-table picks."""
        prof, cfg = bc.value
        tm: dict | None = {} if kernel_timers is not None else None
        out: dict[str, object] = kernel_features(
            t, ("cooc", "runlen", "xcooc", "shape"), lags, levels, timings=tm
        )
        _t0 = _time.perf_counter()
        out.update(window_features(t, gap_minutes))
        for k in (1, 2, 3):
            out[f"role_lag{k}"] = decode(out[f"role_lag{k}"], t.roles)
        if tm is not None:
            tm["window"] = _time.perf_counter() - _t0
            _t0 = _time.perf_counter()
        ts_us = t.ts_us
        if prof is not None:
            pconv, n_null, prts, ppl_codes, ppl_cats, psc = prof
            # per-CONVERSATION string searches (one per conv, repeated
            # to rows), then one fully VECTORIZED bounded binary
            # search for the rightmost side row with rts ≤ ts inside
            # each conv's side block — ~log2(max block) numpy passes,
            # zero Python per-row/per-conv work (the round-2
            # per-conversation loop pinned one core on
            # many-conversation chunks)
            starts = np.flatnonzero(seg_first(t.conv))
            counts = np.diff(np.r_[starts, rb.num_rows])
            # natural-width str, NOT pconv.dtype: casting to the
            # profile's fixed '<U' width would truncate longer
            # out-of-profile ids to a prefix that can falsely match
            sel = rb.column("conv_id").take(pa.array(starts))
            cids = np.asarray(sel.fill_null("").to_pylist(), dtype=str)
            # a null id owns the profile's leading null-conv block,
            # like the composable as-of's partitionBy; str(None) =
            # 'None' would match a profile row keyed "None"
            valid = sel.is_valid().to_numpy(zero_copy_only=False)
            blo = np.where(
                valid, np.searchsorted(pconv, cids, side="left") + n_null, 0
            )
            bhi = np.where(
                valid, np.searchsorted(pconv, cids, side="right") + n_null,
                n_null,
            )
            blo, bhi = np.repeat(blo, counts), np.repeat(bhi, counts)
            lo, hi = blo.copy(), bhi.copy()
            while True:
                active = lo < hi
                if not active.any():
                    break
                mid = (lo + hi) >> 1
                le = np.zeros(len(lo), dtype=bool)
                am = mid[active]
                le[active] = prts[am] <= ts_us[active]
                lo = np.where(active & le, mid + 1, lo)
                hi = np.where(active & ~le, mid, hi)
            idx = lo - 1
            ok = idx >= blo  # empty block (blo == bhi) → idx < blo
            safe = np.clip(idx, 0, None)
            out["plan"] = decode(np.where(ok, ppl_codes[safe], -1), ppl_cats)
            score = psc[safe].astype(np.float64)
            score[~ok] = np.nan
            out["score"] = score
        if cfg is not None:
            out.update(_searchsorted_pick(cfg[0], cfg[1], ts_us))
        if tm is not None:
            tm["sidelookup"] = _time.perf_counter() - _t0
            for fam, secs in tm.items():
                acc = kernel_timers.get(fam)
                if acc is not None:
                    acc.add(secs)
        return out

    out = conversation_pass(prep, fields, compute, num_partitions)
    if fallback_profile is not None:
        from nuclei_feature_extraction_spark.operators.asof import asof_join

        out = asof_join(
            out, fallback_profile, on="conv_id", left_ts="ts",
            right_ts="effective_ts", tie_cols=("plan",),
        )
    if fallback_config is not None:
        from nuclei_feature_extraction_spark.operators.asof import asof_join

        # keyless side too big to broadcast: constant-key union-window
        out = out.withColumn("__k", F.lit(1))
        out = asof_join(
            out, fallback_config.withColumn("__k", F.lit(1)), on="__k",
            left_ts="ts", right_ts="effective_ts",
        ).drop("__k")
    return out

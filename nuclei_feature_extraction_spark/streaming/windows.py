"""STREAMING window-family features — the flagship's full window stack
(sessionize, lag/rolling/masked/circular, multi-scale + Gabor banks)
over a live transcript feed, with batch parity.

Every window feature looks back at most 64 rows (the largest bank
window) and at most 3 turns for lags, so the group state is simply the
conversation's LAST ≤64 RAW ROWS plus three scalars (the absolute
position and session id of the carried tail's first row, and the total
rows seen). Each micro-batch synthesizes the frame [carried tail + new
rows] and runs the SAME vectorized numpy implementation the fused batch
plan uses (``plans.fused.window_features``) with the absolute
position offset — so batch==streaming parity is by construction, not by
re-derivation — then emits only the new rows' features and keeps the
new tail.

Rows inside a micro-batch are sorted by (ts, turn_idx); correctness
across micro-batches requires per-conversation event-time monotonicity
between batches (append-only transcript logs replayed in order)."""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from nuclei_feature_extraction_spark.functions.kernels import Turns
from nuclei_feature_extraction_spark.plans.fused import (
    WINDOW_FEATURE_COLS,
    window_features,
)
from nuclei_feature_extraction_spark.zipcache import guard_zip_caches

TAIL = 64  # longest lookback (the w=64 bank window)

_FLOAT_COLS = [
    c for c in WINDOW_FEATURE_COLS
    if c != "session_id" and not c.startswith("role_lag")
]
OUT_SCHEMA = (
    "conv_id string, turn_idx int, ts timestamp, session_id int, "
    + ", ".join(f"role_lag{k} string" for k in (1, 2, 3))
    + ", "
    + ", ".join(f"{c} double" for c in _FLOAT_COLS)
)
STATE_SCHEMA = (
    "tail_us array<long>, tail_tlen array<double>, tail_role array<string>, "
    "pos0 long, base_session long, n_seen long, "
    # out-of-order guard: (ts µs, turn_idx) high-water mark + drop count
    "last_turn int, n_late long, "
    # watermarked reorder buffer (late_policy='buffer'); empty otherwise
    "buf_us array<long>, buf_turn array<long>, buf_role array<string>, "
    "buf_tlen array<double>"
)


def _update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState,
    gap_minutes: float, late_policy: str, metrics: dict | None = None,
) -> Iterator[pd.DataFrame]:
    from nuclei_feature_extraction_spark.streaming.features import (
        _apply_late_policy,
        _late_mask,
    )

    dfs = [p for p in pdfs if len(p)]
    if dfs:
        rows = pd.concat(dfs, ignore_index=True)
        rows = rows.sort_values(["ts", "turn_idx"], kind="mergesort")
        arr = {
            "us": rows["ts"].to_numpy(dtype="datetime64[us]")
            .astype(np.int64),
            "turn": rows["turn_idx"].to_numpy(dtype=np.int64),
            "role": rows["role"].to_numpy(dtype=object),
            "tlen": rows["tlen"].to_numpy(dtype=np.float64),
        }
    else:  # timeout invocation (buffer flush) or empty batch
        arr = {
            "us": np.empty(0, dtype=np.int64),
            "turn": np.empty(0, dtype=np.int64),
            "role": np.empty(0, dtype=object),
            "tlen": np.empty(0, dtype=np.float64),
        }
    buffering = late_policy == "buffer"

    n_late = 0
    if state.exists:
        got = state.get
        (tail_us, tail_tlen, tail_role, pos0, base_session, n_seen,
         last_turn, n_late) = got[:8]
        # buf_* fields are buffer-era (STATE_SCHEMA grew in round 6):
        # checkpoints written before them are NOT restart-compatible —
        # Spark's state-store schema check rejects the restart up front.
        # This guard covers validation-disabled deployments / null
        # arrays: missing buffer fields degrade to an empty buffer
        # instead of an unpack crash.
        bufv = [v if v is not None else () for v in got[8:12]]
        bufv += [()] * (4 - len(bufv))
        buf_us, buf_turn, buf_role, buf_tlen = bufv
        tail_us = list(tail_us)
        tail_tlen = list(tail_tlen)
        tail_role = list(tail_role)
        last_us = tail_us[-1] if tail_us else -(2**63)
        pend = {
            "us": np.asarray(buf_us, dtype=np.int64),
            "turn": np.asarray(buf_turn, dtype=np.int64),
            "role": np.asarray(buf_role, dtype=object),
            "tlen": np.asarray(buf_tlen, dtype=np.float64),
        }
    else:
        tail_us, tail_tlen, tail_role = [], [], []
        pos0, base_session, n_seen = 0, 0, 0
        last_us, last_turn = -(2**63), -1
        pend = {
            "us": np.empty(0, dtype=np.int64),
            "turn": np.empty(0, dtype=np.int64),
            "role": np.empty(0, dtype=object),
            "tlen": np.empty(0, dtype=np.float64),
        }

    if buffering:
        # hold rows until the event-time watermark passes them, release
        # in (ts, turn_idx) order — see streaming/features.py
        wm_us = max(state.getCurrentWatermarkMs(), 0) * 1000
        merged = {k: np.concatenate([pend[k], arr[k]]) for k in arr}
        order = np.lexsort((merged["turn"], merged["us"]))
        merged = {k: v[order] for k, v in merged.items()}
        ready = merged["us"] < wm_us
        pend = {k: v[~ready] for k, v in merged.items()}
        arr = {k: v[ready] for k, v in merged.items()}

    def _persist(last_turn):
        state.update((
            tail_us, tail_tlen, tail_role, int(pos0), int(base_session),
            int(n_seen), int(last_turn), int(n_late),
            pend["us"].tolist(), pend["turn"].tolist(),
            [str(v) for v in pend["role"]], pend["tlen"].tolist(),
        ))
        if buffering and len(pend["us"]):
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
        if metrics is not None and buffering:
            metrics["buffer_peak_depth"].add(int(len(pend["us"])))

    if len(arr["us"]):
        late = _late_mask(arr["us"], arr["turn"], last_us, last_turn)
        keep, dropped = _apply_late_policy(
            arr["us"], arr["turn"], late,
            "drop" if buffering else late_policy,
            key[0], last_us, last_turn,
        )
        if keep is not None:
            arr = {k: v[keep] for k, v in arr.items()}
        n_late += dropped
        if metrics is not None and dropped:
            metrics["n_late"].add(int(dropped))
    if not len(arr["us"]):
        if state.exists or buffering:
            _persist(last_turn)
        return

    us_new = arr["us"]
    tlen_new = arr["tlen"]
    role_new = arr["role"]

    t = len(tail_us)
    m = len(us_new)
    all_us = np.concatenate([np.array(tail_us, dtype=np.int64), us_new])
    all_tlen = np.concatenate(
        [np.array(tail_tlen, dtype=np.float64), tlen_new]
    )
    all_role = np.concatenate([np.array(tail_role, dtype=object), role_new])
    role_codes, roles = pd.factorize(all_role)
    res = window_features(
        Turns(
            conv=np.zeros(t + m, dtype=np.int64), ts_us=all_us,
            role=role_codes.astype(np.int64), roles=roles, has_tool=None,
            tlen=all_tlen,
        ),
        gap_minutes, pos_offset=int(pos0),
    )
    sess = base_session + res["session_id"].astype(np.int64)

    data = {
        "conv_id": key[0],
        "turn_idx": arr["turn"].astype(np.int32),
        "ts": us_new.astype("datetime64[us]"),
        "session_id": sess[t:].astype(np.int32),
    }
    role_or_null = np.append(roles.astype(object), None)  # code -1 → None
    for k in (1, 2, 3):
        data[f"role_lag{k}"] = role_or_null[res[f"role_lag{k}"][t:]]
    for c in _FLOAT_COLS:
        data[c] = res[c][t:]

    # new tail = the frame's last ≤64 rows
    keep = min(TAIL, t + m)
    cut = t + m - keep
    tail_us = [int(v) for v in all_us[cut:]]
    tail_tlen = [float(v) for v in all_tlen[cut:]]
    tail_role = [str(v) for v in all_role[cut:]]
    pos0 = pos0 + cut
    base_session = int(sess[cut])  # absolute session id of tail's first row
    n_seen = n_seen + m
    _persist(int(arr["turn"][-1]))
    yield pd.DataFrame(data)


def streaming_window_features(
    stream: DataFrame, gap_minutes: float = 30.0,
    late_policy: str = "error",
    watermark_delay: str = "0 seconds",
    state_metrics: dict | None = None,
) -> DataFrame:
    """Per-turn window-family features (45 columns) over a live
    transcript stream, state = the last 64 raw rows per conversation.

    ``late_policy``: ``'error'`` (default) fails the query on a row at
    or before the conversation's (ts, turn_idx) high-water mark;
    ``'drop'`` skips such rows (count carried in state); ``'buffer'``
    holds rows in state until the event-time watermark
    (``watermark_delay``) passes them and releases them in (ts,
    turn_idx) order — batch parity under micro-batches shuffled within
    the delay (see streaming/features.py). ``state_metrics``: optional
    dict from ``streaming.features.streaming_state_metrics`` — drop
    count + peak pending-buffer depth as driver-observable accumulators
    (at-least-once)."""
    if late_policy not in ("error", "drop", "buffer"):
        raise ValueError(
            "late_policy must be 'error', 'drop' or 'buffer', "
            f"got {late_policy!r}"
        )

    def fn(key, pdfs, state):
        guard_zip_caches()
        return _update(key, pdfs, state, gap_minutes, late_policy,
                       state_metrics)

    src = stream.select(
        "conv_id", "turn_idx", "ts", "role",
        F.length("text").cast("double").alias("tlen"),
    )
    timeout = GroupStateTimeout.NoTimeout
    if late_policy == "buffer":
        # watermarks require TIMESTAMP (with local tz); the session runs
        # UTC, so casting NTZ transcript logs is exact
        src = src.withColumn(
            "ts", F.col("ts").cast("timestamp")
        ).withWatermark("ts", watermark_delay)
        timeout = GroupStateTimeout.EventTimeTimeout
    return src.groupBy("conv_id").applyInPandasWithState(
        fn, OUT_SCHEMA, STATE_SCHEMA, "append", timeout
    )

"""Custom stateful streaming operator: incremental per-conversation
turn state via ``applyInPandasWithState`` (SURVEY.md §2.7 — the
Structured Streaming path for live transcript feeds).

Per conversation the state carries ``(last_ts_us, session_id,
n_turns)``; each micro-batch extends sessions exactly like the batch
``sessionize`` (strictly-greater-than-gap splits), so a stream processed
in any micro-batch slicing converges to the batch answer
(tests/test_streaming_stateful.py pins batch == streaming across a
2-file replay).

Rows inside a micro-batch are sorted by (ts, turn_idx); correctness
across micro-batches requires per-conversation event-time monotonicity
between batches (true for append-only transcript logs replayed in
order — the usual CDC/file-stream case).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from nuclei_feature_extraction_spark.zipcache import guard_zip_caches

OUT_SCHEMA = (
    "conv_id string, turn_idx int, ts timestamp, session_id int, "
    "turns_so_far long, gap_s double"
)
STATE_SCHEMA = "last_ts_us long, session_id int, n_turns long"


def _update(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    gap_minutes: float,
) -> Iterator[pd.DataFrame]:
    rows = pd.concat(list(pdfs), ignore_index=True)
    if not len(rows):
        return
    rows = rows.sort_values(["ts", "turn_idx"], kind="mergesort")
    us = rows["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
    if state.exists:
        last_us, sid, n = state.get
    else:
        last_us, sid, n = None, 0, 0
    prev = np.empty(len(us), dtype=np.float64)
    prev[1:] = us[:-1]
    prev[0] = last_us if last_us is not None else np.nan
    gap_s = (us - prev) / 1e6
    new_sess = np.where(np.isnan(gap_s), 0, gap_s > gap_minutes * 60.0)
    session_id = sid + np.cumsum(new_sess).astype(np.int64)
    turns_so_far = n + np.arange(1, len(us) + 1)
    state.update((int(us[-1]), int(session_id[-1]), int(turns_so_far[-1])))
    yield pd.DataFrame(
        {
            "conv_id": key[0],
            "turn_idx": rows["turn_idx"].to_numpy(),
            "ts": rows["ts"].to_numpy(),
            "session_id": session_id.astype(np.int32),
            "turns_so_far": turns_so_far,
            "gap_s": np.where(np.isnan(gap_s), np.nan, gap_s),
        }
    )


def streaming_turn_state(
    stream: DataFrame, gap_minutes: float = 30.0
) -> DataFrame:
    """Append-mode per-turn output with incrementally-maintained
    ``session_id`` / ``turns_so_far`` / ``gap_s``."""

    def fn(key, pdfs, state):
        guard_zip_caches()
        return _update(key, pdfs, state, gap_minutes)

    return (
        stream.select("conv_id", "turn_idx", "ts")
        .groupBy("conv_id")
        .applyInPandasWithState(
            fn, OUT_SCHEMA, STATE_SCHEMA, "append", GroupStateTimeout.NoTimeout
        )
    )

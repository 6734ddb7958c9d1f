"""Single-process references for the Arrow feature worker: a pandas
transcript frame sorted as the Spark pass sorts it, run through the
same Arrow decode and numpy families, one row per turn."""

from __future__ import annotations

import pandas as pd
import pyarrow as pa

from nuclei_feature_extraction_spark.functions import kernels
from nuclei_feature_extraction_spark.plans.fused import window_features


def local_turns(pdf: pd.DataFrame) -> tuple[pd.DataFrame, kernels.Turns]:
    """``pdf`` sorted by (conv_id, ts, turn_idx) with ``tlen``, and the
    kernel inputs of that frame."""
    pdf = pdf.sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort")
    pdf = pdf.reset_index(drop=True)
    pdf["tlen"] = pdf["text"].str.len().astype(float)
    rb = pa.RecordBatch.from_pandas(
        pdf[["conv_id", "ts", "role", "tool", "tlen"]], preserve_index=False
    )
    return pdf, kernels.turns_from_arrow(rb)


def local_kernel_features(pdf: pd.DataFrame, *args, **kw) -> pd.DataFrame:
    """(conv_id, turn_idx) + ``kernels.kernel_features(*args, **kw)``."""
    pdf, t = local_turns(pdf)
    feats = kernels.kernel_features(t, *args, **kw)
    return pd.concat(
        [pdf[["conv_id", "turn_idx"]], pd.DataFrame(feats)], axis=1
    )


def local_window_features(pdf: pd.DataFrame, **kw) -> pd.DataFrame:
    """(conv_id, turn_idx) + the window families, role lags decoded."""
    pdf, t = local_turns(pdf)
    win = window_features(t, **kw)
    for k in (1, 2, 3):
        win[f"role_lag{k}"] = kernels.decode(
            win[f"role_lag{k}"], t.roles
        ).to_numpy(zero_copy_only=False)
    return pd.concat(
        [pdf[["conv_id", "turn_idx"]], pd.DataFrame(win)], axis=1
    )

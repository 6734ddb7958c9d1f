"""Composite-key as-of + mega-conversation stress."""

import numpy as np
import pandas as pd
from local_features import local_kernel_features

from nuclei_feature_extraction_spark.functions import kernels
from nuclei_feature_extraction_spark.operators import asof_join


def test_asof_composite_key(spark):
    t0 = pd.Timestamp("2024-03-01")
    h = pd.Timedelta(hours=1)
    left = spark.createDataFrame(
        pd.DataFrame(
            {
                "tenant": ["a", "a", "b", "b"],
                "conv_id": ["c1", "c1", "c1", "c2"],
                "turn_idx": np.arange(4, dtype=np.int32),
                "ts": [t0 + 2 * h, t0 + 5 * h, t0 + 2 * h, t0 + 2 * h],
            }
        )
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            {
                "tenant": ["a", "a", "b"],
                "conv_id": ["c1", "c1", "c1"],
                "effective_ts": [t0 + h, t0 + 4 * h, t0 + h],
                "plan": ["a-old", "a-new", "b-only"],
                "score": [1.0, 2.0, 3.0],
            }
        )
    )
    got = (
        asof_join(left, right, on=["tenant", "conv_id"], tie_cols=("plan",))
        .toPandas()
        .sort_values(["tenant", "conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    # both key parts must match: (b, c2) gets nothing despite (a,c1)/(b,c1)
    assert got["plan"].tolist() == ["a-old", "a-new", "b-only", None]


def test_mega_conversation_kernels(spark):
    """A 25k-turn conversation (beyond the fixture cap) through the
    distributed kernel path: spans multiple Arrow batches, stitched by
    the carry buffer; spot-check vs the local vectorized computation."""
    n = 25_000
    rng = np.random.default_rng(99)
    pdf = pd.DataFrame(
        {
            "conv_id": ["mega"] * n,
            "turn_idx": np.arange(n, dtype=np.int32),
            "role": np.array(["user", "assistant"])[np.arange(n) % 2],
            "text": pd.Series(rng.integers(5, 200, n)).map(lambda k: "y" * int(k)),
            "tool": [None] * n,
            "ts": pd.Timestamp("2024-01-01").to_datetime64()
            + np.cumsum(rng.integers(1, 100, n)).astype("timedelta64[s]"),
        }
    )
    df = spark.createDataFrame(pdf)
    got = (
        kernels.prefix_features(df, families=("cooc", "runlen"), lags=(1,), levels=(4,))
        .toPandas()
        .sort_values("turn_idx")
        .reset_index(drop=True)
    )
    assert len(got) == n
    want = (
        local_kernel_features(pdf, ("cooc", "runlen"), lags=(1,), levels=(4,))
        .sort_values("turn_idx")
        .reset_index(drop=True)
    )
    for c in ("cooc_entropy_d1_k4", "cooc_imc2_d1_k4", "runlen_gln_role"):
        np.testing.assert_allclose(
            got[c].to_numpy(), want[c].to_numpy(), rtol=1e-9, equal_nan=True,
            err_msg=c,
        )

"""Fused single-shuffle pipeline == composable Catalyst pipeline,
column for column (transfers all leakage/determinism properties)."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from nuclei_feature_extraction_spark.functions import oracle
from nuclei_feature_extraction_spark.functions.kernels import prefix_features
from nuclei_feature_extraction_spark.plans.fused import build_features_fused
from nuclei_feature_extraction_spark.plans.pipeline import build_features


def _sorted(pdf):
    return pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(
        drop=True
    )


def _assert_matches_composable(
    df, side_profile, side_config, lags=(1,), levels=(4,), **fused_kw
):
    """Fused == composable ``build_features(["all"])``: same rows, same
    columns, floats allclose 1e-9, everything else equal as strings.
    Returns the fused frame."""
    fused = _sorted(
        build_features_fused(
            df, side_profile=side_profile, side_config=side_config,
            lags=lags, levels=levels, **fused_kw,
        ).toPandas()
    )
    comp = _sorted(
        build_features(
            df, ["all"], side_profile=side_profile, side_config=side_config,
            lags=lags, levels=levels,
        ).toPandas()
    )
    assert len(fused) == len(comp) == df.count() > 0
    assert set(fused.columns) == set(comp.columns), (
        sorted(set(fused.columns) ^ set(comp.columns))
    )
    for c in comp.columns:
        a, b = fused[c], comp[c]
        if a.dtype.kind in "fc" or b.dtype.kind in "fc":
            assert np.allclose(
                a.to_numpy(dtype=float), b.to_numpy(dtype=float),
                rtol=1e-9, atol=1e-9, equal_nan=True,
            ), f"column {c} diverges"
        else:
            assert (a.fillna("∅").astype(str) == b.fillna("∅").astype(str)).all(), c
    return fused


def test_fused_matches_composable(spark, tiny_df, side_profile_df, side_config_df):
    _assert_matches_composable(tiny_df, side_profile_df, side_config_df)


def test_fused_without_sides(spark, tiny_df):
    fused = build_features_fused(tiny_df, lags=(1,), levels=(4,))
    n = fused.count()
    assert n == tiny_df.count()
    assert "plan" not in fused.columns and "model" not in fused.columns


def test_fused_text_byte_equality(spark, tiny_df, tiny_pdf):
    got = _sorted(
        build_features_fused(tiny_df, lags=(1,), levels=(4,))
        .select("conv_id", "turn_idx", "text")
        .toPandas()
    )
    want = _sorted(tiny_pdf[["conv_id", "turn_idx", "text"]])
    assert (got["text"] == want["text"]).all()


def test_fused_long_out_of_profile_id_does_not_match(spark, tiny_pdf):
    """Regression: an out-of-profile conv id LONGER than every profile
    id must get null plan/score — casting to the profile array's fixed
    '<U' width used to truncate it to a prefix that falsely matched."""
    base = tiny_pdf[tiny_pdf["conv_id"] == tiny_pdf["conv_id"].iloc[0]].copy()
    longer = base.copy()
    longer["conv_id"] = base["conv_id"] + "0"  # prefix == an in-profile id
    both = pd.concat([base, longer], ignore_index=True)
    profile = pd.DataFrame(
        {
            "conv_id": [base["conv_id"].iloc[0]],
            "effective_ts": [base["ts"].min()],
            "plan": ["pro"],
            "score": [0.5],
        }
    )
    out = build_features_fused(
        spark.createDataFrame(both),
        side_profile=spark.createDataFrame(profile),
        lags=(1,), levels=(4,),
    ).select("conv_id", "plan", "score").toPandas()
    short = out[out["conv_id"] == base["conv_id"].iloc[0]]
    long_ = out[out["conv_id"] != base["conv_id"].iloc[0]]
    assert (short["plan"] == "pro").all()
    assert long_["plan"].isna().all(), "truncated-id false match"
    assert long_["score"].isna().all()


def test_fused_broadcast_fallback_matches_composable(
    spark, tiny_df, side_profile_df, side_config_df
):
    """Forcing the side tables past the broadcast guard must route them
    through the union-window as-of fallback with identical results."""
    _assert_matches_composable(
        tiny_df, side_profile_df, side_config_df, max_broadcast_side_rows=1
    )


def test_fused_full_reference_grid_parity(spark, tiny_df, side_profile_df, side_config_df):
    """Fused == composable at the COMPLETE reference-class grid
    (texture.rs:19-20: d∈{1,2,3,5} × K∈{4,8,16,32}) — the width used by
    tools/fullwidth_bench.py; parity must hold there, not only at the
    small default grid."""
    fused = _assert_matches_composable(
        tiny_df, side_profile_df, side_config_df,
        lags=(1, 2, 3, 5), levels=(4, 8, 16, 32),
    )
    assert len(fused.columns) > 380, len(fused.columns)


def _dst_conversation(n: int = 40) -> pd.DataFrame:
    """One conversation across America/New_York's 2024-11-03 fall-back
    (06:00 UTC: 02:00 EDT becomes 01:00 EST), a turn every 3 minutes —
    its local wall times repeat an hour."""
    return pd.DataFrame(
        {
            "conv_id": "dst-fall-back",
            "turn_idx": np.arange(n, dtype=np.int32),
            "role": np.array(["user", "assistant"])[np.arange(n) % 2],
            "text": ["z" * (3 + (7 * i) % 50) for i in range(n)],
            "tool": None,
            "ts": pd.Timestamp("2024-11-03 05:00")
            + pd.to_timedelta(np.arange(n) * 180, unit="s"),
        }
    )


def test_fused_matches_composable_non_utc_session(
    spark, tiny_df, side_profile_df, side_config_df
):
    """Under a non-UTC session both plans still compare every timestamp
    as UTC epoch microseconds (time-of-day features, both as-of lookups
    and the shape kernel's elapsed seconds included), also over a
    conversation across a DST fall-back."""
    dst = _dst_conversation()
    # built under the UTC session: ``ts`` holds the UTC instants above
    df = tiny_df.unionByName(spark.createDataFrame(dst, schema=tiny_df.schema))
    want = oracle.shape_prefix_naive(
        (dst["ts"] - dst["ts"].iloc[0]).dt.total_seconds().to_numpy(),
        dst["text"].str.len().to_numpy(dtype=float),
    )
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    try:
        for tz in ("Asia/Kolkata", "America/New_York"):
            spark.conf.set(key, tz)
            _assert_matches_composable(df, side_profile_df, side_config_df)
            got = (
                prefix_features(
                    df.filter(F.col("conv_id") == "dst-fall-back"),
                    families=("shape",),
                )
                .toPandas()
                .sort_values("turn_idx")
            )
            for s in oracle.SHAPE_STATS:
                np.testing.assert_allclose(
                    got[f"shape_{s}"].to_numpy(), want[s],
                    rtol=1e-6, atol=3e-5, equal_nan=True,
                    err_msg=f"{tz} shape_{s}",
                )
    finally:
        spark.conf.set(key, old)


def test_fused_null_conv_id(spark, tiny_pdf, side_profile_pdf, side_config_df):
    """Null conv_id rows form one conversation, as in the composable
    pipeline's partitionBy — including a partition that holds nothing
    else, where the carry split meets a null last id. They match no
    profile row keyed by the string "None", and only the profile's
    null-keyed rows, as in the composable as-of."""
    pdf = tiny_pdf.copy()
    first = pdf["conv_id"].iloc[0]
    pdf["conv_id"] = pdf["conv_id"].where(pdf["conv_id"] != first, None)
    df = spark.createDataFrame(pdf).filter("conv_id IS NULL")
    t0 = pdf.loc[pdf["conv_id"].isna(), "ts"].min()
    keyed = side_profile_pdf.iloc[:1].assign(effective_ts=t0)
    profile = pd.concat(
        [side_profile_pdf, keyed.assign(conv_id="None", plan="none-str")],
        ignore_index=True,
    )
    fused = _assert_matches_composable(
        df, spark.createDataFrame(profile), side_config_df, num_partitions=1
    )
    assert fused["plan"].isna().all(), fused["plan"].value_counts()
    profile = pd.concat(
        [profile, keyed.assign(conv_id=None, plan="null-key")],
        ignore_index=True,
    )
    fused = _assert_matches_composable(
        df, spark.createDataFrame(profile), side_config_df, num_partitions=1
    )
    assert (fused["plan"] == "null-key").all(), fused["plan"].value_counts()

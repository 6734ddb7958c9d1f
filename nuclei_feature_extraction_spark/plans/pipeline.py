"""End-to-end feature pipeline assembly (the reference's ``main()``
dataflow, /root/reference/src/main.rs:110-190, re-planned for Catalyst).

``build_features`` expands the requested feature-set names (registry),
computes all kernel families in ONE Arrow pass (``prefix_features``,
the CSE the reference misses — texture.rs:36,189,332 re-derives
grayscale per kernel) that emits every input column row-aligned with
the features, so no key join is needed (the reference's fragile
order-equality assert, main.rs:76-79, has no analog), then applies
every window family as Catalyst expressions sharing ONE conversation
window sort, attaches side tables via as-of joins, and finally runs the
static leakage audit.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nuclei_feature_extraction_spark.functions.kernels import (
    DEFAULT_LAGS,
    DEFAULT_LEVELS,
    prefix_features,
)
from nuclei_feature_extraction_spark.operators.asof import (
    asof_join,
    asof_join_broadcast,
    asof_join_cogrouped,
)
from nuclei_feature_extraction_spark.operators.sessionize import sessionize
from nuclei_feature_extraction_spark.operators.windows import (
    gabor_rolling_bank,
    multi_scale_rolling_bank,
    with_circular_time_mean,
    with_lag_lead,
    with_masked_rolling,
    with_rolling,
)
from nuclei_feature_extraction_spark.plans.leakage import audit_no_future_frames
from nuclei_feature_extraction_spark.plans.registry import expand_feature_sets

KERNEL_FAMILIES = ("cooc", "runlen", "xcooc", "shape")


def build_features(
    df: DataFrame,
    feature_sets: Sequence[str] = ("all",),
    side_profile: DataFrame | None = None,
    side_config: DataFrame | None = None,
    lags: Sequence[int] = DEFAULT_LAGS,
    levels: Sequence[int] = DEFAULT_LEVELS,
    leads: Sequence[int] = (),
    audit: bool = True,
    num_partitions: int | None = None,
    asof_strategy: str = "union_window",
) -> DataFrame:
    """Full feature frame over a transcript table
    ``(conv_id, turn_idx, role, text, tool, ts)``.

    Output: all input columns (``text`` byte-identical — the per-turn
    text-equality invariant) + one column per feature, anchored at each
    turn, leakage-free.
    """
    names = expand_feature_sets(feature_sets)

    # kernels FIRST, in passthrough mode: the Arrow pass emits all
    # input columns + features row-aligned, so no (conv_id, turn_idx)
    # sort-merge join is needed (measured at bench scale: that join cost
    # more than the kernels themselves); window features stack on top.
    kernel_fams = [n for n in names if n in KERNEL_FAMILIES]
    if kernel_fams:
        out = prefix_features(
            df,
            families=kernel_fams,
            lags=lags,
            levels=levels,
            num_partitions=num_partitions,
            passthrough=True,
        )
    else:
        out = df.withColumn("tlen", F.length("text").cast("double"))

    if "session" in names:
        out = sessionize(out)
    if "laglead" in names:
        out = with_lag_lead(out, ["tlen", "role"], lags=(1, 2, 3), leads=leads)
    if "rolling" in names:
        out = with_rolling(out, "tlen", stats=("mean", "std", "min", "max"), rows=20)
    if "masked" in names:
        out = with_masked_rolling(
            out, "tlen", F.col("role") == "assistant", "asst", rows=20
        )
    if "circular" in names:
        out = with_circular_time_mean(out, rows=20)
    if "bank" in names:
        out = multi_scale_rolling_bank(
            out, "tlen", windows=(4, 16, 64), stats=("mean", "std")
        )
    if "gabor" in names:
        out = gabor_rolling_bank(
            out, "tlen", windows=(4, 16, 64), n_phases=4, stats=("mean", "std")
        )

    if side_profile is not None:
        # physical routing per asof_strategy_hint: 'union_window' (JVM
        # spillable sort, safe for hot keys) vs 'cogrouped' (pandas
        # merge_asof per key — faster for many small uniform groups,
        # OOM risk on a giant key). Callers pick via the sampled hint.
        if asof_strategy == "cogrouped":
            out = asof_join_cogrouped(
                out,
                side_profile,
                on="conv_id",
                left_ts="ts",
                right_ts="effective_ts",
                tie_cols=("plan",),
            )
        elif asof_strategy == "union_window":
            out = asof_join(
                out,
                side_profile,
                on="conv_id",
                left_ts="ts",
                right_ts="effective_ts",
                tie_cols=("plan",),
            )
        else:
            raise ValueError(
                f"unknown asof_strategy {asof_strategy!r} "
                "(expected 'union_window' or 'cogrouped')"
            )
    if side_config is not None:
        out = asof_join_broadcast(
            out, side_config, left_ts="ts", right_ts="effective_ts"
        )

    if audit:
        audit_no_future_frames(out)
    return out

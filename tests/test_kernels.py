"""Vectorized kernels vs naive numpy oracles (allclose) + Spark wiring."""

import numpy as np
import pandas as pd
import pytest

from nuclei_feature_extraction_spark.functions import kernels, oracle
from nuclei_feature_extraction_spark.fixtures import gen_transcripts
from local_features import local_kernel_features

RNG = np.random.default_rng(123)


def _codes_first(n_convs: int, lengths: list[int]):
    conv = np.repeat(np.arange(n_convs), lengths)
    first = np.ones(len(conv), dtype=bool)
    first[1:] = conv[1:] != conv[:-1]
    return conv, first


@pytest.mark.parametrize("d", [1, 2, 3])
@pytest.mark.parametrize("k", [4, 8])
def test_cooc_prefix_matches_naive(d, k):
    lengths = [1, 2, 7, 40, 90]
    conv, first = _codes_first(len(lengths), lengths)
    x = RNG.integers(0, k, len(conv))
    got = kernels.cooc_prefix(conv, first, x, d, k)
    start = 0
    for ln in lengths:
        seg = slice(start, start + ln)
        want = oracle.cooc_prefix_naive(x[seg], d, k)
        for s in oracle.COOC_STATS:
            np.testing.assert_allclose(
                got[s][seg], want[s], rtol=1e-9, atol=1e-9, equal_nan=True,
                err_msg=f"stat={s} d={d} k={k} seg@{start}",
            )
        start += ln


def test_cooc_constant_stream_nan_bail():
    """All-equal levels: correlation/imc1 undefined → NaN (variance 0),
    mirrors the reference's NaN-bail (shape.rs:142-184)."""
    conv, first = _codes_first(1, [20])
    x = np.zeros(20, dtype=np.int64)
    got = kernels.cooc_prefix(conv, first, x, 1, 4)
    assert np.isnan(got["correlation"][5:]).all()
    assert np.isnan(got["imc1"][5:]).all()
    np.testing.assert_allclose(got["contrast"][5:], 0.0)
    np.testing.assert_allclose(got["asm"][5:], 1.0)


@pytest.mark.parametrize("n_levels", [2, 4, 5])
def test_runlen_prefix_matches_naive(n_levels):
    lengths = [1, 3, 25, 80]
    conv, first = _codes_first(len(lengths), lengths)
    x = RNG.integers(0, n_levels, len(conv))
    got = kernels.runlen_prefix(conv, first, x, n_levels)
    start = 0
    for ln in lengths:
        seg = slice(start, start + ln)
        want = oracle.runlen_prefix_naive(x[seg], n_levels)
        for s in oracle.RUNLEN_STATS:
            np.testing.assert_allclose(
                got[s][seg], want[s], rtol=1e-9, atol=1e-9, equal_nan=True,
                err_msg=f"stat={s} seg@{start}",
            )
        start += ln


def test_runlen_rln_exact_small_cases():
    """RLN's signed decrement/increment bookkeeping on hand-checked
    sequences (growing a run must MOVE it between length buckets)."""
    cases = [
        # (stream, expected Σ count(len)² at final prefix)
        ([0, 0], 1.0),            # one run len 2
        ([0, 1, 0], 9.0),         # three runs len 1 → 3²
        ([0, 0, 1], 2.0),         # len {2, 1} → 1+1
        ([0, 0, 1, 1, 2], 5.0),   # len {2, 2, 1} → 4+1
    ]
    for stream, want_num in cases:
        x = np.array(stream, dtype=np.int64)
        conv = np.zeros(len(x), dtype=np.int64)
        first = np.zeros(len(x), dtype=bool)
        first[0] = True
        got = kernels.runlen_prefix(conv, first, x, 4)
        r = got["n_runs"][-1]
        np.testing.assert_allclose(got["rln"][-1], want_num / r, err_msg=str(stream))


def test_shape_prefix_matches_naive():
    lengths = [1, 2, 30, 60]
    conv, first = _codes_first(len(lengths), lengths)
    u = np.cumsum(RNG.random(len(conv)) * 10)
    y = RNG.random(len(conv)) * 100
    got = kernels.shape_prefix(conv, first, u, y)
    start = 0
    for ln in lengths:
        seg = slice(start, start + ln)
        want = oracle.shape_prefix_naive(u[seg], y[seg])
        for s in oracle.SHAPE_STATS:
            # atol 3e-5: 2·sqrt(fp-noise) floor — the closed-form minor
            # axis near rank-1 covariance amplifies ~1e-11 cancellation
            # error through the sqrt; eigh has the same floor elsewhere
            np.testing.assert_allclose(
                got[s][seg], want[s], rtol=1e-6, atol=3e-5, equal_nan=True,
                err_msg=f"stat={s} seg@{start}",
            )
        start += ln


def test_hull_prefix_ties_and_degenerates():
    """Incremental prefix hull == brute-force monotone chain at EVERY
    prefix, including x-tie runs (equal timestamps), duplicate points,
    collinear streams, and convex-position (every point a hull vertex)."""
    cases = []
    rng = np.random.default_rng(7)
    # heavy x-ties: only 6 distinct x over 40 points, shuffled y
    xs = np.sort(rng.integers(0, 6, 40)).astype(float)
    cases.append(("ties", xs, rng.random(40) * 10))
    # duplicates: same (x, y) repeated
    cases.append(("dups", np.array([0.0, 0, 0, 1, 1, 2, 2, 2]),
                  np.array([1.0, 1, 1, 3, 3, 0, 0, 0])))
    # collinear horizontal / vertical / diagonal
    cases.append(("hline", np.arange(10.0), np.full(10, 2.0)))
    cases.append(("vline", np.zeros(10), np.arange(10.0)))
    cases.append(("diag", np.arange(10.0), np.arange(10.0) * 3 + 1))
    # convex position: y = x² (every prefix point stays on the hull)
    cases.append(("convex", np.arange(25.0), np.arange(25.0) ** 2))
    # concave: y = -x² plus an interior cloud
    x = np.r_[np.arange(15.0), np.arange(15.0)]
    cases.append(("mix", np.sort(x), rng.random(30) * 5))
    for name, u, y in cases:
        first = np.zeros(len(u), dtype=bool)
        first[0] = True
        area, perim = kernels.hull_prefix(first, u, y)
        for t in range(len(u)):
            wa, wp = oracle.hull_metrics_naive(u[: t + 1], y[: t + 1])
            np.testing.assert_allclose(
                area[t], wa, rtol=1e-9, atol=1e-9,
                err_msg=f"{name} area prefix {t}",
            )
            np.testing.assert_allclose(
                perim[t], wp, rtol=1e-9, atol=1e-9,
                err_msg=f"{name} perim prefix {t}",
            )


def test_hull_prefix_multi_conversation_isolation():
    """Hull state must reset at conversation boundaries."""
    u = np.array([0.0, 1, 2, 0, 5, 6])
    y = np.array([0.0, 4, 0, 1, 1, 8])
    first = np.array([True, False, False, True, False, False])
    area, perim = kernels.hull_prefix(first, u, y)
    wa2, wp2 = oracle.hull_metrics_naive(u[:3], y[:3])
    np.testing.assert_allclose(area[2], wa2)
    np.testing.assert_allclose(perim[2], wp2)
    wa5, wp5 = oracle.hull_metrics_naive(u[3:], y[3:])
    np.testing.assert_allclose(area[5], wa5)
    np.testing.assert_allclose(perim[5], wp5)


def test_kernel_features_on_transcripts():
    pdf = gen_transcripts(10)
    pdf["tlen"] = pdf["text"].str.len().astype(float)
    out = local_kernel_features(pdf)
    assert len(out) == len(pdf)
    expected = {"conv_id", "turn_idx"} | set(kernels.feature_names())
    assert set(out.columns) == expected
    # one conversation cross-checked against the naive oracles end-to-end
    cid = pdf.groupby("conv_id").size().idxmax()
    sub = pdf[pdf["conv_id"] == cid].sort_values(["ts", "turn_idx"])
    x = oracle.discretize_log(sub["tlen"].to_numpy(), 8)
    want = oracle.cooc_prefix_naive(x, 2, 8)
    got = (
        out[out["conv_id"] == cid]
        .set_index("turn_idx")
        .loc[sub["turn_idx"].to_numpy()]
    )
    np.testing.assert_allclose(
        got["cooc_entropy_d2_k8"].to_numpy(), want["entropy"],
        rtol=1e-9, equal_nan=True,
    )


def test_prefix_features_spark_matches_local(spark, tiny_df, tiny_pdf):
    got = (
        kernels.prefix_features(tiny_df, lags=(1,), levels=(4,))
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = (
        local_kernel_features(tiny_pdf, lags=(1,), levels=(4,))
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) == len(tiny_pdf)
    for c in kernels.feature_names(lags=(1,), levels=(4,)):
        np.testing.assert_allclose(
            got[c].to_numpy(), want[c].to_numpy(),
            rtol=1e-9, atol=1e-12, equal_nan=True, err_msg=c,
        )


def _null_conv_turns(n: int = 20) -> pd.DataFrame:
    """One conversation with a null ``conv_id``, a turn every 3 minutes."""
    return pd.DataFrame(
        {
            "conv_id": [None] * n,
            "turn_idx": np.arange(n, dtype=np.int32),
            "role": np.array(["user", "assistant", "tool"])[np.arange(n) % 3],
            "text": ["y" * (5 + 7 * (i % 4)) for i in range(n)],
            "tool": [None if i % 3 else "search" for i in range(n)],
            "ts": pd.Timestamp("2024-03-01")
            + pd.to_timedelta(np.arange(n) * 180, unit="s"),
        }
    )


def test_prefix_features_batch_stitching(spark, tiny_df, tiny_pdf):
    """Force tiny Arrow batches so conversations straddle batch
    boundaries; the carry must stitch them losslessly, in the composable
    and the fused pass alike. A null ``conv_id`` is one conversation
    too: it must not restart at every batch."""
    from nuclei_feature_extraction_spark.plans.fused import build_features_fused

    df = tiny_df.unionByName(
        spark.createDataFrame(_null_conv_turns(), schema=tiny_df.schema)
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)

    def run(batch_rows):
        spark.conf.set(key, str(batch_rows))
        try:
            comp = kernels.prefix_features(
                df, families=("runlen",), num_partitions=1
            ).toPandas()
            fused = build_features_fused(
                df, lags=(1,), levels=(4,), num_partitions=1
            ).drop("text", "tool", "ts", "role").toPandas()
        finally:
            spark.conf.set(key, old)
        return [
            p.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
            for p in (comp, fused)
        ]

    small, whole = run(7), run(100_000)
    for got, want in zip(small, whole):
        assert len(got) == len(want) == len(tiny_pdf) + 20
        for c in want.columns:
            if want[c].dtype.kind == "f":
                np.testing.assert_allclose(
                    got[c].to_numpy(), want[c].to_numpy(),
                    rtol=1e-9, atol=1e-9, equal_nan=True, err_msg=c,
                )
            else:
                assert got[c].equals(want[c]), c
    nulls = small[0][small[0]["conv_id"].isna()]
    np.testing.assert_array_equal(
        nulls["runlen_n_runs_role"].to_numpy(), np.arange(1, 21)
    )
    local = local_kernel_features(tiny_pdf, families=("runlen",))
    local = local.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    np.testing.assert_allclose(
        small[0]["runlen_gln_role"].to_numpy()[: len(local)],
        local["runlen_gln_role"].to_numpy(),
        rtol=1e-9, equal_nan=True,
    )


def test_whole_conversations_copies_each_row_at_most_once(monkeypatch):
    """The carry loop regroups sorted batches into whole conversations:
    a null conversation ending a batch, empty batches, one conversation
    over 200 batches and a new id at every batch boundary. Joining the
    carried slices copies each row at most once (re-joining the carry on
    every batch is quadratic in the conversation length)."""
    import pyarrow as pa

    parts = [[None] * 3, [], [None, None, "a", "a"], ["a", "b"]]
    for i in range(200):  # "b" over 200 batches, empty ones in between
        parts += [["b"] * 5] + ([[]] if i % 7 == 0 else [])
    parts += [[f"c{i:03d}", f"c{i + 1:03d}"] for i in range(0, 40, 2)]
    parts += [["c040"], ["c040", "d"], ["e"]]
    bounds = np.cumsum([0] + [len(ids) for ids in parts])
    n_in = int(bounds[-1])
    # x = input row number, to check the order
    batches = [
        pa.RecordBatch.from_arrays(
            [pa.array(ids, pa.string()),
             pa.array(np.arange(bounds[k], bounds[k + 1]))],
            names=["conv_id", "x"],
        )
        for k, ids in enumerate(parts)
    ]

    copied = []
    concat = kernels._concat

    def counting(slices):
        out = concat(slices)
        copied.append(out.num_rows)
        return out

    monkeypatch.setattr(kernels, "_concat", counting)
    out = list(kernels.whole_conversations(iter(batches)))
    assert all(b.num_rows for b in out)
    rows = np.concatenate([b.column("x").to_numpy() for b in out])
    np.testing.assert_array_equal(rows, np.arange(n_in))
    seen: dict = {}
    for k, b in enumerate(out):
        for cid in set(b.column("conv_id").to_pylist()):
            seen.setdefault(cid, set()).add(k)
    assert all(len(v) == 1 for v in seen.values()), seen
    assert set(seen) == {None, "a", "b", "d", "e"} | {
        f"c{i:03d}" for i in range(41)
    }
    assert sum(copied) <= 2 * n_in


def test_xcooc_prefix_matches_naive():
    """Cross-signal co-occurrence (role lag-d × level stream) ==
    brute-force pair-matrix rebuild at every prefix, per conversation."""
    lengths = [1, 3, 25, 50]
    conv, first = _codes_first(len(lengths), lengths)
    a = RNG.integers(0, 5, len(conv))
    b = RNG.integers(0, 4, len(conv))
    for d in (1, 2):
        got = kernels.xcooc_prefix(conv, first, a, b, d)
        start = 0
        for ln in lengths:
            seg = slice(start, start + ln)
            want = oracle.xcooc_prefix_naive(a[seg], b[seg], d)
            for s in oracle.XCOOC_STATS:
                np.testing.assert_allclose(
                    got[s][seg], want[s], rtol=1e-9, atol=1e-9, equal_nan=True,
                    err_msg=f"stat={s} d={d} seg@{start}",
                )
            start += ln


def test_xcooc_mi_nonnegative_and_independent_zero():
    """MI of an independent pair ~0; MI of b == deterministic f(a) equals
    the marginal entropy of b (sanity on the identity mi = hx + hy − H)."""
    n = 4000
    conv = np.zeros(n, dtype=np.int64)
    first = np.zeros(n, dtype=bool); first[0] = True
    rng = np.random.default_rng(11)
    a = rng.integers(0, 4, n)
    # deterministic coupling at lag 1: b_t = a_{t-1} % 3
    b = np.roll(a, 1) % 3
    got = kernels.xcooc_prefix(conv, first, a, b, 1)
    assert abs(got["mi"][-1] - got["hy"][-1]) < 1e-9
    # independent
    b2 = rng.integers(0, 3, n)
    got2 = kernels.xcooc_prefix(conv, first, a, b2, 1)
    assert got2["mi"][-1] < 0.01
    assert got2["mi"][-1] > -1e-9


def test_seg_cumsum_fallback_matches_direct(monkeypatch):
    """The public-groupby fallback (taken when the private cython probe
    fails on a future pandas) must be value-identical to the direct
    path — including NaN propagation and the cummax/cummin span path."""
    rng = np.random.default_rng(41)
    n = 5000
    first = np.zeros(n, dtype=bool)
    first[0] = True
    first[rng.integers(1, n, 40)] = True
    cols = [rng.random(n) * 100 for _ in range(5)]
    cols[0][7] = np.nan
    direct_block = kernels._seg_cumsum_block(cols, first)
    direct_one = kernels._seg_cumsum(cols[1], first)
    u = rng.random(n) * 50
    y = rng.random(n) * 10
    conv = np.cumsum(first) - 1
    direct_shape = kernels.shape_prefix(conv, first, np.sort(u), y)

    monkeypatch.setattr(kernels, "_GROUP_CUMSUM", None)
    monkeypatch.setattr(kernels, "_GROUP_CUMMAX", None)
    monkeypatch.setattr(kernels, "_GROUP_CUMMIN", None)
    fb_block = kernels._seg_cumsum_block(cols, first)
    fb_one = kernels._seg_cumsum(cols[1], first)
    fb_shape = kernels.shape_prefix(conv, first, np.sort(u), y)

    for a, b in zip(direct_block, fb_block):
        assert np.array_equal(a, b, equal_nan=True)
    assert np.array_equal(direct_one, fb_one)
    for s in ("span_area", "compacity", "pca_major"):
        np.testing.assert_allclose(
            direct_shape[s], fb_shape[s], rtol=1e-12, equal_nan=True,
            err_msg=s,
        )

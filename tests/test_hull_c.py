"""The compiled hull kernel must be BIT-identical to the CPython loop
(the readable specification) — same statement order, -ffp-contract=off,
libm sqrt. Covers the loop's branch structure: x-advances, equal-x runs
(lower/upper representative replacement), first-run left-edge updates,
single-point and collinear conversations."""

import numpy as np
import pytest

from nuclei_feature_extraction_spark.functions.kernels import (
    _hull_clib,
    _hull_prefix_py,
    hull_prefix,
)


def _segments(lengths):
    n = int(sum(lengths))
    first = np.zeros(n, dtype=bool)
    pos = 0
    for ln in lengths:
        first[pos] = True
        pos += ln
    return first, n


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_c_matches_python_random(seed):
    if _hull_clib() is None:
        pytest.skip("no C toolchain on this machine")
    rng = np.random.default_rng(seed)
    lengths = rng.integers(1, 400, size=40)
    first, n = _segments(lengths)
    # monotone-ish x with EQUAL-X RUNS (the replace-in-place branches)
    u = np.repeat(
        np.cumsum(rng.integers(0, 3, size=n).astype(np.float64)), 1
    )
    y = rng.standard_normal(n) * 10
    ca, cp = hull_prefix(first, u, y)
    pa, pp = _hull_prefix_py(first, u, y)
    assert np.array_equal(ca, pa)  # bit-exact, not allclose
    assert np.array_equal(cp, pp)


def test_c_matches_python_edges():
    if _hull_clib() is None:
        pytest.skip("no C toolchain on this machine")
    # single point; all-equal-x conv; collinear conv; two points
    first, n = _segments([1, 5, 4, 2])
    u = np.array([0.0, 1, 1, 1, 1, 1, 0, 1, 2, 3, 5, 9], dtype=np.float64)
    y = np.array([2.0, 3, -1, 4, 0, 2, 0, 1, 2, 3, -2, 7], dtype=np.float64)
    ca, cp = hull_prefix(first, u, y)
    pa, pp = _hull_prefix_py(first, u, y)
    assert np.array_equal(ca, pa)
    assert np.array_equal(cp, pp)


def test_dispatch_used_by_shape_prefix():
    # the public entry goes through the dispatcher — a machine without
    # gcc silently uses the Python loop; either way values match
    rng = np.random.default_rng(7)
    first, n = _segments([50, 1, 120])
    u = np.cumsum(rng.integers(0, 2, size=n).astype(np.float64))
    y = rng.standard_normal(n)
    a1, p1 = hull_prefix(first, u, y)
    a2, p2 = _hull_prefix_py(first, u, y)
    assert np.allclose(a1, a2) and np.allclose(p1, p2)


def test_keyed_prefix_count_matches_pandas():
    import pandas as pd

    from nuclei_feature_extraction_spark.functions.kernels import (
        _keyed_prefix_count_c,
    )

    if _hull_clib() is None:
        pytest.skip("no C toolchain on this machine")
    rng = np.random.default_rng(3)
    comb = rng.integers(-5, 40, size=5000).astype(np.int64)
    # cumcount (post-increment, 1-based)
    got = _keyed_prefix_count_c(comb, None, pre=False)
    want = pd.Series(comb).groupby(comb).cumcount().to_numpy() + 1
    assert np.array_equal(got, want.astype(np.float64))
    # net-count-before with mixed ±1/0 signs
    sign = rng.integers(-1, 2, size=5000).astype(np.int64)
    got = _keyed_prefix_count_c(comb, sign, pre=True)
    cs = pd.Series(sign).groupby(comb).cumsum().to_numpy()
    assert np.array_equal(got, (cs - sign).astype(np.float64))


def test_cumcount_fallback_matches_compiled(monkeypatch):
    """Without the compiled counter, ``_cumcount`` falls back to pandas
    and still returns the same float64 values."""
    from nuclei_feature_extraction_spark.functions import kernels

    rng = np.random.default_rng(5)
    conv = np.sort(rng.integers(0, 6, size=3000))
    key = rng.integers(-1, 9, size=3000)
    comb = kernels._fuse_keys(conv, key)
    want = np.empty(len(comb))
    seen: dict = {}
    for r, c in enumerate(comb.tolist()):
        seen[c] = seen.get(c, 0) + 1
        want[r] = seen[c]
    monkeypatch.setattr(kernels, "_keyed_prefix_count_c", lambda *a, **k: None)
    got = kernels._cumcount(conv, key)
    assert got.dtype == np.float64
    assert np.array_equal(got, want)

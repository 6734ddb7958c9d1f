"""Vectorized prefix-feature kernels (the engine's numeric hot path).

The reference computes, per item, a wide numeric vector from whole-batch
tensor kernels (GLCM/GLRLM via tch-utils, PCA via shape.rs — SURVEY.md
§2.4 A6/A11/A12). Our analog computes, per anchor turn, the same
families over the CONVERSATION PREFIX ending at that turn:

- cooc:   lag-d transition co-occurrence of the discretized text-length
          signal + the 14 Haralick stats, grid d × K levels → columns
          ``cooc_<stat>_d<d>_k<K>`` (naming per texture.rs:82-157).
- runlen: run-length stats of {role, has_tool, tlen level-4} streams →
          ``runlen_<stat>_<signal>`` (texture.rs:244-301 analog).
- shape:  prefix PCA of the (elapsed-seconds, tlen) scatter →
          ``shape_pca_*`` (shape.rs:141-207 analog, same NaN-bail).

Everything is computed in ONE pass over each sorted conversation using
segmented cumulative sums and occurrence-count (cumcount) identities —
O(n) per conversation instead of the naive O(n²·K²), and vectorized
across ALL conversations in an Arrow batch (no per-row or per-group
Python). The naive oracles in oracle.py define the semantics; tests
assert allclose between the two.

Every family is a plain numpy function: sorted arrays in (a
:class:`Turns` — conversation codes, UTC epoch µs, role dictionary
codes, has_tool, tlen), ``dict[str, np.ndarray]`` out.
:func:`conversation_pass` is the one Arrow worker that runs them for
both batch plans (``prefix_features`` here, ``build_features_fused``):
one shuffle by conversation, a sort within partitions, one
``mapInArrow`` whose carry loop (:func:`whole_conversations`) stitches
conversations split across batches, input columns passed through
zero-copy and outputs built straight from the arrays — no
group-at-a-time overhead, no pandas frame per batch.

Key incremental identities (c = cell count, u = occurrence count of the
underlying key, f(x) = x·ln x):
  Σ c², symmetric GLCM:  Δ = (2 + 2·[i=j]) · (2u − 1)
  Σ c ln c, off-diag:    Δ = 2·(f(u) − f(u−1))
  Σ c ln c, diag:        Δ = f(2u) − f(2u−2)
  marginal Σ m ln m:     per-event Δ = f(m) − f(m−1) over the
                         interleaved (i, j) event stream
  HXY1 = HXY2 = HX + HY  (exact marginalization identity)
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterable, Iterator, Sequence
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from nuclei_feature_extraction_spark.functions.oracle import (
    COOC_STATS,
    RUNLEN_STATS,
    SHAPE_STATS,
    XCOOC_STATS,
    discretize_log,
)
from nuclei_feature_extraction_spark.zipcache import guard_zip_caches

ROLE_IDX = {"user": 0, "assistant": 1, "tool": 2, "system": 3}
# Four ordered signals mirror the reference's four GLRLM directions
# (texture.rs:175 DIRECTIONS): role stream, tool-use stream, discretized
# text-length stream, and conversation-relative position buckets (posb =
# min(pos // 4, 3) — depends only on rows ≤ t, so zero temporal leakage).
RUNLEN_SIGNALS = ("role", "has_tool", "tlen4", "posb")
# G (gray-level count) per signal — parameterizes mid/extreme weights
RUNLEN_N_LEVELS = {"role": 5, "has_tool": 2, "tlen4": 4, "posb": 4}
DEFAULT_LAGS = (1, 2)
DEFAULT_LEVELS = (4, 8)


# ----------------------------------------------------------- numpy core

def _xlogx(a: np.ndarray) -> np.ndarray:
    return np.where(a > 0, a * np.log(np.maximum(a, 1e-300)), 0.0)


def _probe_cython_groupby():
    """Bind pandas' cython grouped-scan kernels directly if this pandas
    version exposes them with the expected semantics (verified by a
    micro self-test); otherwise fall back to the public groupby API.
    The direct path skips DataFrame/Block assembly, the NaN pre-fill of
    the output, and the strided column extraction — together ~10× the
    cost of the scan kernel itself (measured) — while running the SAME
    cython loop, so results are bit-identical."""
    try:
        from pandas._libs.groupby import group_cummax, group_cummin, group_cumsum

        out = np.empty((4, 1), dtype=np.float64)
        labels = np.array([0, 0, 1, 1], dtype=np.intp)
        group_cumsum(out, np.arange(4, dtype=np.float64).reshape(4, 1),
                     labels, 2, False, True)
        assert out.ravel().tolist() == [0.0, 1.0, 2.0, 5.0]
        group_cummax(out, np.array([3.0, 1.0, 0.0, 2.0]).reshape(4, 1),
                     labels, 2, False)
        assert out.ravel().tolist() == [3.0, 3.0, 0.0, 2.0]
        return group_cumsum, group_cummin, group_cummax
    except Exception:  # noqa: BLE001 — any private-API drift → fallback
        return None, None, None


_GROUP_CUMSUM, _GROUP_CUMMIN, _GROUP_CUMMAX = _probe_cython_groupby()


def _seg_labels(first: np.ndarray) -> tuple[np.ndarray, int]:
    labels = np.cumsum(first).astype(np.intp)
    labels -= 1
    return labels, (int(labels[-1]) + 1 if len(labels) else 0)


def _seg_cumsum(a: np.ndarray, first: np.ndarray) -> np.ndarray:
    """Cumulative sum restarting at every True in ``first``.

    Per-group C-vectorized scan: each segment's sum is computed
    independently, so float error NEVER crosses conversation boundaries
    (a global-cumsum-minus-offset trick would leak ~eps·(chunk
    magnitude) into early prefixes of later conversations and break
    exact-zero guards like hx == 0)."""
    if _GROUP_CUMSUM is not None:
        labels, ngroups = _seg_labels(first)
        v = np.ascontiguousarray(a, dtype=np.float64).reshape(-1, 1)
        out = np.empty_like(v)
        _GROUP_CUMSUM(out, v, labels, ngroups, False, True)
        return out.reshape(-1)
    seg = np.cumsum(first)
    return (
        pd.Series(np.asarray(a, dtype=np.float64))
        .groupby(seg)
        .cumsum()
        .to_numpy()
    )


def _seg_cumsum_block(cols: Sequence[np.ndarray], first: np.ndarray) -> list[np.ndarray]:
    """Segmented cumsum of MANY columns sharing one label pass. With the
    direct cython binding each column runs through the scan kernel as a
    zero-copy (n, 1) view — no block transposition in, no NaN pre-fill,
    no strided extraction out (those copies cost ~5-10× the scan itself,
    measured). Same per-segment exactness guarantee as ``_seg_cumsum``
    (each segment sums independently, sequential left-to-right order —
    bit-identical to the pandas groupby path)."""
    if _GROUP_CUMSUM is None:
        return [_seg_cumsum(c, first) for c in cols]
    labels, ngroups = _seg_labels(first)
    outs = []
    for c in cols:
        v = np.ascontiguousarray(c, dtype=np.float64).reshape(-1, 1)
        out = np.empty_like(v)
        _GROUP_CUMSUM(out, v, labels, ngroups, False, True)
        outs.append(out.reshape(-1))
    return outs


def _seg_pos(first: np.ndarray) -> np.ndarray:
    """0-based position within each segment."""
    n = len(first)
    start_idx = np.where(first, np.arange(n), 0)
    return np.arange(n) - np.maximum.accumulate(start_idx)


def _fuse_keys(conv: np.ndarray, key: np.ndarray) -> np.ndarray:
    """Pack (conv, key) into one int64: a single-column groupby hashes
    once instead of building a two-column grouper (~10× cheaper cold,
    ~2× warm, measured). key >= -1; conv codes are dense from factorize
    so conv·K never overflows at any realistic chunk size."""
    k = np.asarray(key, dtype=np.int64)
    span = int(k.max(initial=-1)) + 2
    return np.asarray(conv, dtype=np.int64) * span + (k + 1)


def _keyed_prefix_count_c(
    comb: np.ndarray, signs: np.ndarray | None, pre: bool
) -> np.ndarray | None:
    """Single-pass open-addressing running counter (compiled kernel;
    see ``nfx_keyed_prefix_count`` in the embedded C source). A pandas
    ``groupby`` re-factorizes the key column on EVERY call — the cooc
    grid alone pays 3 hash passes per (d, k) cell — while this runs one
    probe+increment pass. Counts are small integers in float64: EXACT,
    so the swap is bit-identical by construction. None → use pandas."""
    lib = _hull_clib()
    if lib is None:
        return None
    import ctypes

    n = len(comb)
    out = np.empty(n, dtype=np.float64)
    if n == 0:
        return out
    kc = np.ascontiguousarray(comb, dtype=np.int64)
    iptr = ctypes.POINTER(ctypes.c_int64)
    if signs is None:
        sptr = ctypes.cast(None, iptr)
    else:
        signs = np.ascontiguousarray(signs, dtype=np.int64)
        sptr = signs.ctypes.data_as(iptr)
    rc = lib.nfx_keyed_prefix_count(
        kc.ctypes.data_as(iptr), sptr, ctypes.c_int64(n),
        ctypes.c_int(1 if pre else 0),
        out.ctypes.data_as(ctypes.POINTER(ctypes.c_double)),
    )
    return out if rc == 0 else None


def _cumcount(conv: np.ndarray, key: np.ndarray) -> np.ndarray:
    """1-based occurrence count of (conv, key) at each row, as float64
    (compiled single-pass counter; pandas cumcount fallback — identical
    values and dtype)."""
    comb = _fuse_keys(conv, key)
    got = _keyed_prefix_count_c(comb, None, pre=False)
    if got is not None:
        return got
    return (
        pd.Series(comb).groupby(comb).cumcount().to_numpy(dtype=np.float64)
        + 1.0
    )


def _net_count_before(
    conv: np.ndarray, key: np.ndarray, sign: np.ndarray
) -> np.ndarray:
    """Net (+1/−1) running count of (conv, key) just BEFORE each event —
    the decrement-capable twin of ``_cumcount`` needed when a key's
    multiplicity can shrink (a run moving from length l−1 to l must
    decrement the l−1 length-count). Compiled single-pass counter with
    a pandas groupby-cumsum fallback (identical integer values);
    sign-0 rows are inert placeholders."""
    comb = _fuse_keys(conv, key)
    got = _keyed_prefix_count_c(comb, np.asarray(sign), pre=True)
    if got is not None:
        return got
    cs = pd.Series(sign).groupby(comb).cumsum().to_numpy()
    return (cs - sign).astype(np.float64)


def cooc_prefix(
    conv: np.ndarray, first: np.ndarray, x: np.ndarray, d: int, k: int
) -> dict[str, np.ndarray]:
    """Vectorized prefix Haralick stats for lag-d, k-level stream x.
    ``conv`` are integer codes, ``first`` marks conversation starts;
    rows MUST be sorted by (conv, order)."""
    n = len(x)
    pos = _seg_pos(first)
    valid = pos >= d
    i = np.where(valid, x[np.maximum(np.arange(n) - d, 0)], 0).astype(np.int64)
    j = x.astype(np.int64)
    w = valid.astype(np.float64)

    with np.errstate(divide="ignore", invalid="ignore"):
        # per-row deltas for EVERY accumulator, then ONE blocked
        # segmented cumsum (the groupby machinery dominates a
        # column-at-a-time formulation)
        diff2 = (i - j).astype(np.float64) ** 2
        adiff = np.abs(i - j).astype(np.float64)

        # Σc² and Σ c ln c via unordered-pair occurrence counts
        lo, hi = np.minimum(i, j), np.maximum(i, j)
        pairkey = np.where(valid, lo * k + hi, -1)
        diag = (i == j) & valid
        u = _cumcount(conv, pairkey)
        dc2 = np.where(diag, 4.0, 2.0) * (2 * u - 1)
        dclogc = np.where(
            diag,
            _xlogx(2 * u) - _xlogx(2 * u - 2),
            2.0 * (_xlogx(u) - _xlogx(u - 1)),
        )
        # sum-marginal entropy via (i+j) occurrence counts (s(k) = 2u)
        sumkey = np.where(valid, i + j, -1)
        us = _cumcount(conv, sumkey)
        dslogs = _xlogx(2 * us) - _xlogx(2 * us - 2)
        # marginal entropy HX via the interleaved (i, j) event stream
        ev_conv = np.repeat(conv, 2)
        ev_val = np.empty(2 * n, dtype=np.int64)
        ev_val[0::2] = np.where(valid, i, -1)
        ev_val[1::2] = np.where(valid, j, -1)
        m = _cumcount(ev_conv, ev_val)
        dm = _xlogx(m) - _xlogx(m - 1)
        row_dm = np.where(valid, dm[0::2] + dm[1::2], 0.0)

        (
            s_half, c_contrast, c_dissim, c_idm, c_mu, c_ev2, c_eij,
            c_sa, c_sv, c2, clogc, slogs, mlogm,
        ) = _seg_cumsum_block(
            [
                w, w * 2 * diff2, w * 2 * adiff, w * 2.0 / (1.0 + diff2),
                w * (i + j), w * (i * i + j * j).astype(np.float64),
                w * 2.0 * i * j, w * 2.0 * (i + j),
                w * 2.0 * (i + j).astype(np.float64) ** 2,
                np.where(valid, dc2, 0.0), np.where(valid, dclogc, 0.0),
                np.where(valid, dslogs, 0.0), row_dm,
            ],
            first,
        )
        s_tot = 2.0 * s_half  # ordered-pair total S
        ok = s_tot > 0
        contrast = c_contrast / s_tot
        dissim = c_dissim / s_tot
        idm = c_idm / s_tot
        mu = c_mu / s_tot
        ev2 = c_ev2 / s_tot
        var = ev2 - mu**2
        eij = c_eij / s_tot
        corr = np.where(var > 1e-9, (eij - mu**2) / var, np.nan)
        sa = c_sa / s_tot
        sv = c_sv / s_tot - sa**2
        da = dissim
        dv = contrast - da**2
        asm = c2 / s_tot**2
        entropy = np.log(np.where(ok, s_tot, 1.0)) - clogc / s_tot
        sum_entropy = np.log(np.where(ok, s_tot, 1.0)) - slogs / s_tot
        hx = np.log(np.where(ok, s_tot, 1.0)) - mlogm / s_tot

        # 1e-9 floor: true nonzero hx ≥ ln(2m)/2m (~7e-6 even at m=10^6);
        # within-conversation cumsum noise is orders below the floor
        imc1 = np.where(hx > 1e-9, (entropy - 2 * hx) / hx, np.nan)
        imc2 = np.sqrt(np.clip(1.0 - np.exp(-2.0 * (2 * hx - entropy)), 0.0, None))

    out = {
        "correlation": corr, "contrast": contrast, "dissimilarity": dissim,
        "entropy": entropy, "asm": asm, "sum_average": sa, "sum_variance": sv,
        "sum_entropy": sum_entropy, "sum_of_squares": var, "idm": idm,
        "difference_average": da, "difference_variance": dv,
        "imc1": imc1, "imc2": imc2,
    }
    nan = np.nan
    for s in out:
        out[s] = np.where(ok, out[s], nan)
    return out


def xcooc_prefix(
    conv: np.ndarray, first: np.ndarray, a: np.ndarray, b: np.ndarray, d: int
) -> dict[str, np.ndarray]:
    """CROSS-signal prefix co-occurrence — the 2-D direction analog of
    the reference's GLCM offsets (texture.rs:19: four (dy, dx) image
    directions). A transcript has one axis per SIGNAL instead of two
    spatial axes, so the second direction is a second signal: count the
    joint pairs (a_{t−d}, b_t) over the prefix and emit stats of that
    ASYMMETRIC cross matrix C[i, j] (no symmetrization — unlike the
    within-signal GLCM, (i, j) and (j, i) are different events here).

    Same O(n) incremental machinery as ``cooc_prefix``: per-row deltas
    for the moment accumulators, occurrence-count identities for the
    quadratic/entropy terms (Δ Σc² = 2u−1, Δ Σ c ln c = f(u) − f(u−1)
    with u the 1-based running count of the key), one fused segmented
    cumsum. Stats: contrast, dissimilarity, marginal means, Pearson
    correlation of (i, j), ASM, joint entropy, marginal entropies
    hx/hy, and mutual information mi = hx + hy − H."""
    n = len(a)
    pos = _seg_pos(first)
    valid = pos >= d
    i = np.where(valid, a[np.maximum(np.arange(n) - d, 0)], 0).astype(np.int64)
    j = np.where(valid, np.asarray(b, dtype=np.int64), 0)
    w = valid.astype(np.float64)
    kb = int(j.max(initial=0)) + 1

    with np.errstate(divide="ignore", invalid="ignore"):
        pairkey = np.where(valid, i * kb + j, -1)
        u = _cumcount(conv, pairkey)
        ua = _cumcount(conv, np.where(valid, i, -1))
        ub = _cumcount(conv, np.where(valid, j, -1))
        fi, fj = i.astype(np.float64), j.astype(np.float64)
        zero = np.zeros(n)
        (
            s, c_con, c_dis, c_i, c_j, c_i2, c_j2, c_ij,
            c2, clogc, aloga, blogb,
        ) = _seg_cumsum_block(
            [
                w, w * (fi - fj) ** 2, w * np.abs(fi - fj),
                w * fi, w * fj, w * fi * fi, w * fj * fj, w * fi * fj,
                np.where(valid, 2 * u - 1, zero),
                np.where(valid, _xlogx(u) - _xlogx(u - 1), zero),
                np.where(valid, _xlogx(ua) - _xlogx(ua - 1), zero),
                np.where(valid, _xlogx(ub) - _xlogx(ub - 1), zero),
            ],
            first,
        )
        ok = s > 0
        safe_s = np.where(ok, s, 1.0)
        contrast = c_con / safe_s
        dissim = c_dis / safe_s
        mean_a, mean_b = c_i / safe_s, c_j / safe_s
        var_a = c_i2 / safe_s - mean_a**2
        var_b = c_j2 / safe_s - mean_b**2
        cov = c_ij / safe_s - mean_a * mean_b
        denom = var_a * var_b
        corr = np.where(denom > 1e-9, cov / np.sqrt(np.where(denom > 0, denom, 1.0)), np.nan)
        asm = c2 / safe_s**2
        entropy = np.log(safe_s) - clogc / safe_s
        hx = np.log(safe_s) - aloga / safe_s
        hy = np.log(safe_s) - blogb / safe_s
        mi = hx + hy - entropy

    out = {
        "contrast": contrast, "dissimilarity": dissim,
        "mean_a": mean_a, "mean_b": mean_b, "correlation": corr,
        "asm": asm, "entropy": entropy, "hx": hx, "hy": hy, "mi": mi,
    }
    nan = np.nan
    for k_ in out:
        out[k_] = np.where(ok, out[k_], nan)
    return out


def runlen_prefix(
    conv: np.ndarray, first: np.ndarray, x: np.ndarray, n_levels: int = 4
) -> dict[str, np.ndarray]:
    """Vectorized prefix run-length stats of integer stream x — the full
    17-stat GLRLM family of the reference (texture.rs:244-301), all O(n)
    prefix-incremental.

    Joint short/long × {low, high, mid, extreme} gray-level emphases are
    Σ_runs w(level)·g(length) / R with g ∈ {1/l², l²}: a run growing
    from l−1 to l contributes Δ = w·(g(l) − g(l−1)); a fresh run w·g(1).
    RLN (Σ_j count(length = j)² / R) needs a DECREMENT-capable count —
    growing a run moves it between length buckets — handled by a signed
    interleaved event stream (dec l−1, inc l) where each event of sign s
    on a bucket with prior net count c shifts Σc² by s·(2c + s).
    ``n_levels`` (G) parameterizes the mid/extreme distance weights
    d = |x − (G−1)/2| (see oracle.RUNLEN_STATS provenance note)."""
    n = len(x)
    prev = x[np.maximum(np.arange(n) - 1, 0)]
    chg = first | (x != prev)
    pos = _seg_pos(chg)  # 0-based position within the current run
    length = pos + 1.0
    np1 = _seg_pos(first) + 1.0
    # r (run count so far) comes out of the fused _seg_cumsum_block below

    with np.errstate(divide="ignore", invalid="ignore"):
        short_d = np.where(pos > 0, 1.0 / length**2 - 1.0 / (length - 1) ** 2, 1.0)
        long_d = 2 * length - 1  # l² − (l−1)² (and g(1) = 1 at pos 0)
        startkey = np.where(chg, x, -1)
        rv = _cumcount(conv, startkey)
        xl = x.astype(np.float64)
        low = 1.0 / (xl + 1) ** 2
        high = (xl + 1) ** 2
        dc = np.abs(xl - (n_levels - 1) / 2.0)
        midw = 1.0 / (dc + 1) ** 2
        extw = (dc + 1) ** 2

        # RLN via the signed event stream: slot 0 decrements the l−1
        # length bucket on grow rows, slot 1 increments the current l
        ilen = pos + 1
        ev_conv = np.repeat(conv, 2)
        ev_key = np.empty(2 * n, dtype=np.int64)
        ev_sign = np.empty(2 * n, dtype=np.int64)
        grow = pos > 0
        ev_key[0::2] = np.where(grow, ilen - 1, -1)
        ev_sign[0::2] = np.where(grow, -1, 0)
        ev_key[1::2] = ilen
        ev_sign[1::2] = 1
        net = _net_count_before(ev_conv, ev_key, ev_sign)
        dsq = np.where(ev_sign != 0, 2.0 * ev_sign * net + 1.0, 0.0)

        zero = np.zeros(n)
        (
            r, c_sre, c_lre, c_gln, c_lgre, c_hgre,
            c_srlge, c_srhge, c_srmge, c_srege,
            c_lrlge, c_lrhge, c_lrmge, c_lrege, c_rln,
        ) = _seg_cumsum_block(
            [
                chg.astype(np.float64), short_d, long_d,
                np.where(chg, 2 * rv - 1, zero),
                np.where(chg, low, zero), np.where(chg, high, zero),
                low * short_d, high * short_d, midw * short_d,
                extw * short_d, low * long_d, high * long_d,
                midw * long_d, extw * long_d, dsq[0::2] + dsq[1::2],
            ],
            first,
        )
        sre, lre, gln = c_sre / r, c_lre / r, c_gln / r
        mean_len = np1 / r
        rlvar = lre - mean_len**2
        lgre, hgre = c_lgre / r, c_hgre / r
        srlge, srhge = c_srlge / r, c_srhge / r
        srmge, srege = c_srmge / r, c_srege / r
        lrlge, lrhge = c_lrlge / r, c_lrhge / r
        lrmge, lrege = c_lrmge / r, c_lrege / r
        rln = c_rln / r

    return {
        "n_runs": r, "rp": r / np1, "mean_len": mean_len, "sre": sre,
        "lre": lre, "rlvar": rlvar, "gln": gln, "lgre": lgre, "hgre": hgre,
        "rln": rln, "srlge": srlge, "srhge": srhge, "srmge": srmge,
        "srege": srege, "lrlge": lrlge, "lrhge": lrhge, "lrmge": lrmge,
        "lrege": lrege,
    }


def shape_prefix(
    conv: np.ndarray, first: np.ndarray, u: np.ndarray, y: np.ndarray
) -> dict[str, np.ndarray]:
    """Vectorized prefix PCA of the (u, y) scatter per conversation.
    Closed-form 2×2 eigen-decomposition from five segmented cumsums;
    elliptic deviation (A8) from nine more (raw moments to order 4)."""
    np1 = _seg_pos(first) + 1.0
    n = len(u)
    du = u - u[np.maximum(np.arange(n) - 1, 0)]
    dy = y - y[np.maximum(np.arange(n) - 1, 0)]
    seglen = np.where(first, 0.0, np.sqrt(du**2 + dy**2))
    moment_pq = ((3, 0), (2, 1), (1, 2), (0, 3),
                 (4, 0), (3, 1), (2, 2), (1, 3), (0, 4))
    (su, sy, suu, syy, suy, path, *mom) = _seg_cumsum_block(
        [u, y, u * u, y * y, u * y, seglen]
        + [u**p * y**q for p, q in moment_pq],
        first,
    )
    with np.errstate(divide="ignore", invalid="ignore"):
        mu, my = su / np1, sy / np1
        a = suu / np1 - mu**2
        c = syy / np1 - my**2
        b = suy / np1 - mu * my
        tr = a + c
        disc = np.sqrt(((a - c) / 2) ** 2 + b**2)
        l1 = tr / 2 + disc
        l2 = np.clip(tr / 2 - disc, 0.0, None)
        valid = (np1 >= 2) & (l1 > 0)
        major = np.where(valid, 2 * np.sqrt(np.clip(l1, 0, None)), np.nan)
        minor = np.where(valid, 2 * np.sqrt(l2), np.nan)
        ecc = np.where(valid, np.sqrt(np.clip((l1 - l2) / l1, 0, 1)), np.nan)
        # eigenvector of l1: (b, l1-a); when b≈0 axis-aligned; degenerate
        # (disc≈0, no principal direction) → NaN like shape.rs:142-184
        vx = np.where(np.abs(b) > 1e-12, b, np.where(a >= c, 1.0, 0.0))
        vy = np.where(np.abs(b) > 1e-12, l1 - a, np.where(a >= c, 0.0, 1.0))
        angle = np.where(
            valid & (disc > 1e-12), np.arctan2(vy, vx) % np.pi, np.nan
        )
    # A8-A10 analogs: arc length (cumsum of segment lengths, in the
    # block above), bounding span area (segmented cummax/cummin),
    # compacity = len²/(4π·area)
    if _GROUP_CUMMAX is not None:
        _labels, _ngroups = _seg_labels(first)
        ext = np.empty((len(u), 4), dtype=np.float64, order="F")
        for _j, (_fn, _src) in enumerate(
            [(_GROUP_CUMMAX, u), (_GROUP_CUMMIN, u),
             (_GROUP_CUMMAX, y), (_GROUP_CUMMIN, y)]
        ):
            _v = np.ascontiguousarray(_src, dtype=np.float64).reshape(-1, 1)
            _fn(ext[:, _j].reshape(-1, 1), _v, _labels, _ngroups, False)
        span_u = ext[:, 0] - ext[:, 1]
        span_y = ext[:, 2] - ext[:, 3]
    else:
        seg = np.cumsum(first)
        gb_u = pd.Series(u).groupby(seg)
        gb_y = pd.Series(y).groupby(seg)
        span_u = gb_u.cummax().to_numpy() - gb_u.cummin().to_numpy()
        span_y = gb_y.cummax().to_numpy() - gb_y.cummin().to_numpy()
    area = span_u * span_y
    two_plus = np1 >= 2
    with np.errstate(divide="ignore", invalid="ignore"):
        compacity = np.where(
            two_plus & (area > 0), path**2 / (4 * np.pi * area), np.nan
        )

    # A8 elliptic deviation (shape.rs:209-217 analog): RMS of the
    # squared Mahalanobis radius around its exact fit-mean of 2 —
    # sqrt(E[r⁴] − 4) — via central moments to order 4, each a raw-power
    # segmented cumsum (u is per-conversation ELAPSED time, so raw and
    # central moments share scale and the conversion stays stable).
    raw = {(1, 0): mu, (0, 1): my, (2, 0): suu / np1, (0, 2): syy / np1,
           (1, 1): suy / np1}
    with np.errstate(divide="ignore", invalid="ignore"):
        for (p, q), csum in zip(moment_pq, mom):
            raw[(p, q)] = csum / np1
        raw[(0, 0)] = np.ones_like(np1)

        # powers of (−mean) hoisted out of `central` — it used to call
        # ndarray ** int (expensive generic pow) 35× per chunk; computing
        # the 5 powers once keeps results BIT-identical (same np.power
        # kernel — successive multiplication is not: its last-bit drift
        # gets amplified by the raw→central cancellation)
        mup = [(-mu) ** k for k in range(5)]
        myp = [(-my) ** k for k in range(5)]

        def central(p: int, q: int) -> np.ndarray:
            from math import comb

            m = np.zeros_like(np1)
            for i in range(p + 1):
                for j in range(q + 1):
                    m = m + (
                        comb(p, i) * comb(q, j)
                        * raw[(i, j)] * mup[p - i] * myp[q - j]
                    )
            return m

        m40, m31, m22 = central(4, 0), central(3, 1), central(2, 2)
        m13, m04 = central(1, 3), central(0, 4)
        det = a * c - b**2
        inv_ok = (np1 >= 3) & (det > 1e-12 * a * c)
        safe_det = np.where(inv_ok, det, 1.0)
        a11, a12, a22 = c / safe_det, -b / safe_det, a / safe_det
        er4 = (
            a11**2 * m40 + 4 * a11 * a12 * m31
            + (2 * a11 * a22 + 4 * a12**2) * m22
            + 4 * a12 * a22 * m13 + a22**2 * m04
        )
        ell_dev = np.where(
            inv_ok, np.sqrt(np.clip(er4 - 4.0, 0.0, None)), np.nan
        )
    hull_area, hull_perim = hull_prefix(first, u, y)
    with np.errstate(divide="ignore", invalid="ignore"):
        hull_dev = np.where(
            two_plus & (area > 0), 1.0 - hull_area / area, np.nan
        )
        # equivalent perimeter (shape.rs:91, geometric_features crate;
        # public formula): perimeter of the circle with the hull's area
        equiv_perim = np.where(
            two_plus & (hull_area > 0),
            2.0 * np.sqrt(np.pi * np.clip(hull_area, 0, None)),
            np.nan,
        )
    return {
        "pca_major": major, "pca_minor": minor,
        "pca_angle": angle, "pca_eccentricity": ecc,
        "path_len": np.where(two_plus, path, np.nan),
        "span_area": np.where(two_plus, area, np.nan),
        "compacity": compacity,
        "elliptic_deviation": ell_dev,
        "hull_area": np.where(two_plus, hull_area, np.nan),
        "hull_perimeter": np.where(two_plus, hull_perim, np.nan),
        "hull_deviation": hull_dev,
        "equiv_perimeter": equiv_perim,
    }


# C twin of the per-point hull loop below (guide §4.2: hand whole
# batches to native code). Same statement order, -ffp-contract=off and
# libm sqrt keep every double BIT-identical to the CPython loop (pinned
# by tests/test_hull_c.py); the Python loop remains the fallback and
# the readable specification.
_HULL_C_SRC = r"""
#include <stdint.h>
#include <math.h>
#include <stdlib.h>

static inline uint64_t nfx_mix64(uint64_t x) {
    x += 0x9E3779B97F4A7C15ULL;
    x = (x ^ (x >> 30)) * 0xBF58476D1CE4E5B9ULL;
    x = (x ^ (x >> 27)) * 0x94D049BB133111EBULL;
    return x ^ (x >> 31);
}

/* Running per-key counters over an int64 key stream (open addressing,
   load factor <= 0.5). signs == NULL -> +1 per event, value written
   AFTER the increment (1-based occurrence count). pre != 0 -> value
   written BEFORE adding the event's sign (the decrement-capable
   net-count-before). Counts are small integers in double: exact. */
int nfx_keyed_prefix_count(const int64_t* keys, const int64_t* signs,
                           int64_t n, int pre, double* out) {
    uint64_t cap = 1, mask, h;
    int64_t *tk, *tv, t;
    uint8_t *tu;
    if (n <= 0) return 0;
    while (cap < (uint64_t)(2 * n)) cap <<= 1;
    tk = malloc(cap * sizeof(int64_t));
    tv = malloc(cap * sizeof(int64_t));
    tu = calloc(cap, 1);
    if (!tk || !tv || !tu) { free(tk); free(tv); free(tu); return 1; }
    mask = cap - 1;
    for (t = 0; t < n; t++) {
        int64_t key = keys[t];
        int64_t s = signs ? signs[t] : 1;
        h = nfx_mix64((uint64_t)key) & mask;
        while (tu[h] && tk[h] != key) h = (h + 1) & mask;
        if (!tu[h]) { tu[h] = 1; tk[h] = key; tv[h] = 0; }
        if (pre) { out[t] = (double)tv[h]; tv[h] += s; }
        else { tv[h] += s; out[t] = (double)tv[h]; }
    }
    free(tk); free(tv); free(tu);
    return 0;
}

int nfx_hull_prefix(const double* ux, const double* yx,
                    const int64_t* starts, int64_t n_starts, int64_t n,
                    double* out_area, double* out_perim) {
    double *lx, *ly, *ltr, *lln, *uxs, *uys, *utr, *uln;
    int64_t si, t;
    lx = malloc(sizeof(double) * (size_t)(n + 1));
    ly = malloc(sizeof(double) * (size_t)(n + 1));
    ltr = malloc(sizeof(double) * (size_t)(n + 1));
    lln = malloc(sizeof(double) * (size_t)(n + 1));
    uxs = malloc(sizeof(double) * (size_t)(n + 1));
    uys = malloc(sizeof(double) * (size_t)(n + 1));
    utr = malloc(sizeof(double) * (size_t)(n + 1));
    uln = malloc(sizeof(double) * (size_t)(n + 1));
    if (!lx || !ly || !ltr || !lln || !uxs || !uys || !utr || !uln) {
        free(lx); free(ly); free(ltr); free(lln);
        free(uxs); free(uys); free(utr); free(uln);
        return 1;
    }
    for (si = 0; si < n_starts; si++) {
        int64_t s = starts[si];
        int64_t e = (si + 1 < n_starts) ? starts[si + 1] : n;
        int64_t nl = 0, nle = 0, nu = 0, nue = 0;
        double il = 0.0, pl = 0.0, iu = 0.0, pu = 0.0;
        double px0 = ux[s], py0 = yx[s];
        double x0 = px0, cur_x = px0;
        double run_min = py0, run_max = py0, left_min = py0, left_max = py0;
        lx[nl] = px0; ly[nl] = py0; nl++;
        uxs[nu] = px0; uys[nu] = py0; nu++;
        out_area[s] = 0.0;
        out_perim[s] = 0.0;
        for (t = s + 1; t < e; t++) {
            double px = ux[t], py = yx[t];
            if (px > cur_x) {
                double tx, ty, dx, dy, tr, lnv;
                cur_x = px;
                run_min = py; run_max = py;
                tx = lx[nl - 1]; ty = ly[nl - 1];
                while (nle > 0 && ((tx - lx[nl - 2]) * (py - ly[nl - 2])
                                   - (ty - ly[nl - 2]) * (px - lx[nl - 2])) <= 0.0) {
                    nle--; il -= ltr[nle]; pl -= lln[nle];
                    nl--;
                    tx = lx[nl - 1]; ty = ly[nl - 1];
                }
                dx = px - tx; dy = py - ty;
                tr = dx * (py + ty); lnv = sqrt(dx * dx + dy * dy);
                il += tr; pl += lnv;
                ltr[nle] = tr; lln[nle] = lnv; nle++;
                lx[nl] = px; ly[nl] = py; nl++;
                tx = uxs[nu - 1]; ty = uys[nu - 1];
                while (nue > 0 && ((tx - uxs[nu - 2]) * (py - uys[nu - 2])
                                   - (ty - uys[nu - 2]) * (px - uxs[nu - 2])) >= 0.0) {
                    nue--; iu -= utr[nue]; pu -= uln[nue];
                    nu--;
                    tx = uxs[nu - 1]; ty = uys[nu - 1];
                }
                dx = px - tx; dy = py - ty;
                tr = dx * (py + ty); lnv = sqrt(dx * dx + dy * dy);
                iu += tr; pu += lnv;
                utr[nue] = tr; uln[nue] = lnv; nue++;
                uxs[nu] = px; uys[nu] = py; nu++;
                out_area[t] = 0.5 * (iu - il);
                out_perim[t] = pl + pu + (run_max - run_min)
                               + (left_max - left_min);
                continue;
            }
            if (cur_x == x0) {
                if (py < left_min) left_min = py;
                else if (py > left_max) left_max = py;
            }
            if (py < run_min) {
                run_min = py;
                if (nle > 0) { nle--; il -= ltr[nle]; pl -= lln[nle]; }
                nl--;
                while (nle > 0 && ((lx[nl - 1] - lx[nl - 2]) * (py - ly[nl - 2])
                                   - (ly[nl - 1] - ly[nl - 2]) * (px - lx[nl - 2])) <= 0.0) {
                    nle--; il -= ltr[nle]; pl -= lln[nle];
                    nl--;
                }
                if (nl > 0) {
                    double dx = px - lx[nl - 1], dy = py - ly[nl - 1];
                    double tr = dx * (py + ly[nl - 1]);
                    double lnv = sqrt(dx * dx + dy * dy);
                    il += tr; pl += lnv;
                    ltr[nle] = tr; lln[nle] = lnv; nle++;
                }
                lx[nl] = px; ly[nl] = py; nl++;
            } else if (py > run_max) {
                run_max = py;
                if (nue > 0) { nue--; iu -= utr[nue]; pu -= uln[nue]; }
                nu--;
                while (nue > 0 && ((uxs[nu - 1] - uxs[nu - 2]) * (py - uys[nu - 2])
                                   - (uys[nu - 1] - uys[nu - 2]) * (px - uxs[nu - 2])) >= 0.0) {
                    nue--; iu -= utr[nue]; pu -= uln[nue];
                    nu--;
                }
                if (nu > 0) {
                    double dx = px - uxs[nu - 1], dy = py - uys[nu - 1];
                    double tr = dx * (py + uys[nu - 1]);
                    double lnv = sqrt(dx * dx + dy * dy);
                    iu += tr; pu += lnv;
                    utr[nue] = tr; uln[nue] = lnv; nue++;
                }
                uxs[nu] = px; uys[nu] = py; nu++;
            }
            out_area[t] = 0.5 * (iu - il);
            if (cur_x != x0) {
                out_perim[t] = pl + pu + (run_max - run_min)
                               + (left_max - left_min);
            } else {
                out_perim[t] = 2.0 * (run_max - run_min);
            }
        }
    }
    free(lx); free(ly); free(ltr); free(lln);
    free(uxs); free(uys); free(utr); free(uln);
    return 0;
}
"""

_HULL_LIB = None
_HULL_TRIED = False


def _hull_clib():
    """Compile-once-per-machine hull kernel: gcc the embedded C source
    into /tmp keyed by a source hash (atomic rename — concurrent workers
    race safely), dlopen via ctypes. Any failure (no gcc, sandboxed
    tmp, …) returns None and the Python loop runs instead. Compilation
    happens at most once per process; the .so is shared by every worker
    on the machine afterwards."""
    global _HULL_LIB, _HULL_TRIED
    if _HULL_TRIED:
        return _HULL_LIB
    _HULL_TRIED = True
    try:
        import ctypes
        import hashlib
        import os
        import subprocess
        import tempfile

        h = hashlib.sha256(_HULL_C_SRC.encode()).hexdigest()[:16]
        # per-uid 0700 cache dir: a predictable world-writable /tmp
        # path would let another local user preplant a .so at the
        # public source hash and have every worker dlopen it
        cache_dir = os.path.join(
            tempfile.gettempdir(), f"nfx_cc_{os.getuid()}"
        )
        os.makedirs(cache_dir, mode=0o700, exist_ok=True)
        st = os.stat(cache_dir)
        if st.st_uid != os.getuid() or (st.st_mode & 0o022):
            raise RuntimeError(f"unsafe cache dir {cache_dir}")
        so = os.path.join(cache_dir, f"nfx_hull_{h}.so")
        if not os.path.exists(so):
            with tempfile.NamedTemporaryFile(
                "w", suffix=".c", delete=False
            ) as f:
                f.write(_HULL_C_SRC)
                cpath = f.name
            tmp_so = f"{so}.tmp{os.getpid()}"
            try:
                subprocess.run(
                    ["gcc", "-O2", "-ffp-contract=off", "-fPIC", "-shared",
                     "-o", tmp_so, cpath],
                    check=True, capture_output=True, timeout=120,
                )
                os.replace(tmp_so, so)
            finally:
                for p in (cpath, tmp_so):
                    try:
                        os.unlink(p)
                    except OSError:
                        pass
        lib = ctypes.CDLL(so)
        lib.nfx_hull_prefix.restype = ctypes.c_int
        lib.nfx_hull_prefix.argtypes = [
            ctypes.POINTER(ctypes.c_double), ctypes.POINTER(ctypes.c_double),
            ctypes.POINTER(ctypes.c_int64), ctypes.c_int64, ctypes.c_int64,
            ctypes.POINTER(ctypes.c_double), ctypes.POINTER(ctypes.c_double),
        ]
        lib.nfx_keyed_prefix_count.restype = ctypes.c_int
        lib.nfx_keyed_prefix_count.argtypes = [
            ctypes.POINTER(ctypes.c_int64), ctypes.POINTER(ctypes.c_int64),
            ctypes.c_int64, ctypes.c_int, ctypes.POINTER(ctypes.c_double),
        ]
        _HULL_LIB = lib
    except Exception:
        _HULL_LIB = None
    return _HULL_LIB


def hull_prefix(
    first: np.ndarray, u: np.ndarray, y: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Dispatch: compiled C kernel when available (bit-identical, ~40×
    the throughput of the interpreted loop), CPython loop otherwise."""
    lib = _hull_clib()
    if lib is None:
        return _hull_prefix_py(first, u, y)
    import ctypes

    n = len(u)
    out_area = np.empty(n, dtype=np.float64)
    out_perim = np.empty(n, dtype=np.float64)
    if n == 0:
        return out_area, out_perim
    uc = np.ascontiguousarray(u, dtype=np.float64)
    yc = np.ascontiguousarray(y, dtype=np.float64)
    starts = np.ascontiguousarray(np.flatnonzero(first), dtype=np.int64)
    dptr = ctypes.POINTER(ctypes.c_double)
    iptr = ctypes.POINTER(ctypes.c_int64)
    rc = lib.nfx_hull_prefix(
        uc.ctypes.data_as(dptr), yc.ctypes.data_as(dptr),
        starts.ctypes.data_as(iptr),
        ctypes.c_int64(len(starts)), ctypes.c_int64(n),
        out_area.ctypes.data_as(dptr), out_perim.ctypes.data_as(dptr),
    )
    if rc != 0:  # allocation failure — degrade, never crash the task
        return _hull_prefix_py(first, u, y)
    return out_area, out_perim


def _hull_prefix_py(
    first: np.ndarray, u: np.ndarray, y: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """True prefix CONVEX HULL area and perimeter of the (u, y) scatter
    per conversation — the real A9/A10 (reference shape.rs:93-97,
    ``convex_hull_features``; the bounding-span ``span_area`` analog is
    kept alongside as the extent baseline).

    ``u`` is per-conversation elapsed time, so points arrive sorted by
    x — the Andrew monotone chain is therefore INCREMENTAL: each new
    point appends to the lower/upper chains with amortized O(1)
    push/pop work. The hull's trapezoid integral I = Σ(x₊−x)(y₊+y) and
    chain edge-length sums are maintained through every push/pop, with
    each edge's (trapezoid, length) terms STORED at push time in
    parallel stacks so a pop is two subtractions — no recompute, no
    sqrt (pops ≤ pushes, so this halves the stack arithmetic); per-row
    emission is O(1), O(n) total per conversation.

    Conventions: 2·area = I(upper) − I(lower); perimeter closes the
    polygon with the vertical left/right extent edges, so a degenerate
    (collinear) hull is the flat polygon — perimeter = 2·segment
    length, area = 0. Only a run's min-y (resp. max-y) point can be a
    lower (upper) chain vertex, so equal-x runs keep one representative
    per chain, replaced in place when the run extremum moves."""
    n = len(u)
    out_area = np.empty(n, dtype=np.float64)
    out_perim = np.empty(n, dtype=np.float64)
    ux, yx = u.tolist(), np.asarray(y, dtype=np.float64).tolist()
    starts = np.flatnonzero(first).tolist()
    sqrt = math.sqrt
    for si, s in enumerate(starts):
        e = starts[si + 1] if si + 1 < len(starts) else n
        # chain point stacks + per-EDGE term stacks (edge i-1 → i)
        lx: list[float] = []; ly: list[float] = []
        ltr: list[float] = []; lln: list[float] = []
        uxs: list[float] = []; uys: list[float] = []
        utr: list[float] = []; uln: list[float] = []
        il = pl = iu = pu = 0.0
        px0 = ux[s]; py0 = yx[s]
        x0 = cur_x = px0
        run_min = run_max = left_min = left_max = py0
        lx.append(px0); ly.append(py0)
        uxs.append(px0); uys.append(py0)
        out_area[s] = 0.0
        out_perim[s] = 0.0
        for t in range(s + 1, e):
            px = ux[t]; py = yx[t]
            if px > cur_x:
                cur_x = px
                run_min = run_max = py
                # lower-chain push (pop non-right-turns)
                tx = lx[-1]; ty = ly[-1]
                while ltr and (
                    (tx - lx[-2]) * (py - ly[-2])
                    - (ty - ly[-2]) * (px - lx[-2])
                ) <= 0:
                    il -= ltr.pop(); pl -= lln.pop()
                    lx.pop(); ly.pop()
                    tx = lx[-1]; ty = ly[-1]
                dx = px - tx; dy = py - ty
                tr = dx * (py + ty); ln = sqrt(dx * dx + dy * dy)
                il += tr; pl += ln
                ltr.append(tr); lln.append(ln)
                lx.append(px); ly.append(py)
                # upper-chain push (pop non-left-turns)
                tx = uxs[-1]; ty = uys[-1]
                while utr and (
                    (tx - uxs[-2]) * (py - uys[-2])
                    - (ty - uys[-2]) * (px - uxs[-2])
                ) >= 0:
                    iu -= utr.pop(); pu -= uln.pop()
                    uxs.pop(); uys.pop()
                    tx = uxs[-1]; ty = uys[-1]
                dx = px - tx; dy = py - ty
                tr = dx * (py + ty); ln = sqrt(dx * dx + dy * dy)
                iu += tr; pu += ln
                utr.append(tr); uln.append(ln)
                uxs.append(px); uys.append(py)
                out_area[t] = 0.5 * (iu - il)
                out_perim[t] = pl + pu + (run_max - run_min) + (
                    left_max - left_min
                )
                continue
            # same x as the current rightmost run
            if cur_x == x0:
                if py < left_min:
                    left_min = py
                elif py > left_max:
                    left_max = py
            if py < run_min:
                run_min = py
                # replace the run's lower representative, then pop on
                if ltr:
                    il -= ltr.pop(); pl -= lln.pop()
                lx.pop(); ly.pop()
                while ltr and (
                    (lx[-1] - lx[-2]) * (py - ly[-2])
                    - (ly[-1] - ly[-2]) * (px - lx[-2])
                ) <= 0:
                    il -= ltr.pop(); pl -= lln.pop()
                    lx.pop(); ly.pop()
                if lx:
                    dx = px - lx[-1]; dy = py - ly[-1]
                    tr = dx * (py + ly[-1]); ln = sqrt(dx * dx + dy * dy)
                    il += tr; pl += ln
                    ltr.append(tr); lln.append(ln)
                lx.append(px); ly.append(py)
            elif py > run_max:
                run_max = py
                if utr:
                    iu -= utr.pop(); pu -= uln.pop()
                uxs.pop(); uys.pop()
                while utr and (
                    (uxs[-1] - uxs[-2]) * (py - uys[-2])
                    - (uys[-1] - uys[-2]) * (px - uxs[-2])
                ) >= 0:
                    iu -= utr.pop(); pu -= uln.pop()
                    uxs.pop(); uys.pop()
                if uxs:
                    dx = px - uxs[-1]; dy = py - uys[-1]
                    tr = dx * (py + uys[-1]); ln = sqrt(dx * dx + dy * dy)
                    iu += tr; pu += ln
                    utr.append(tr); uln.append(ln)
                uxs.append(px); uys.append(py)
            out_area[t] = 0.5 * (iu - il)
            if cur_x != x0:
                out_perim[t] = pl + pu + (run_max - run_min) + (
                    left_max - left_min
                )
            else:
                out_perim[t] = 2.0 * (run_max - run_min)
    return out_area, out_perim


# ------------------------------------------------------ family assembly

class Turns(NamedTuple):
    """Whole conversations as flat arrays, sorted by (conversation, ts,
    turn_idx): the input of every kernel and window family."""

    conv: np.ndarray  # int64 conversation codes; null ids share one code
    ts_us: np.ndarray  # int64 UTC epoch microseconds
    role: np.ndarray  # int64 codes into ``roles``, -1 for null
    roles: Sequence[str]  # the role dictionary
    has_tool: np.ndarray | None  # int64 0/1 (kernel families only)
    tlen: np.ndarray  # float64 text length


def seg_first(conv: np.ndarray) -> np.ndarray:
    """True at the first row of each conversation."""
    first = np.empty(len(conv), dtype=bool)
    first[:1] = True
    first[1:] = conv[1:] != conv[:-1]
    return first


def feature_names(
    families: Sequence[str] = ("cooc", "runlen", "xcooc", "shape"),
    lags: Sequence[int] = DEFAULT_LAGS,
    levels: Sequence[int] = DEFAULT_LEVELS,
) -> list[str]:
    names: list[str] = []
    if "cooc" in families:
        for d in lags:
            for k in levels:
                names += [f"cooc_{s}_d{d}_k{k}" for s in COOC_STATS]
    if "runlen" in families:
        for sig in RUNLEN_SIGNALS:
            names += [f"runlen_{s}_{sig}" for s in RUNLEN_STATS]
    if "xcooc" in families:
        for d in lags:
            names += [f"xcooc_{s}_d{d}" for s in XCOOC_STATS]
    if "shape" in families:
        names += [f"shape_{s}" for s in SHAPE_STATS]
    return names


def _role_idx(t: Turns) -> np.ndarray:
    """Role codes → ROLE_IDX ints (null or unknown → 4), looked up over
    the handful of dictionary entries, never per row."""
    lut = np.array([ROLE_IDX.get(r, 4) for r in t.roles] + [4], dtype=np.int64)
    return lut[t.role]  # code -1 picks the trailing 4


def kernel_features(
    t: Turns,
    families: Sequence[str] = ("cooc", "runlen", "xcooc", "shape"),
    lags: Sequence[int] = DEFAULT_LAGS,
    levels: Sequence[int] = DEFAULT_LEVELS,
    timings: dict | None = None,
) -> dict[str, np.ndarray]:
    """Every requested family over whole sorted conversations, one
    float64 array per :func:`feature_names` column.

    Shared intermediates (conversation starts, tlen levels) are computed
    once across families — the CSE the reference misses when it
    re-derives grayscale per kernel (texture.rs:36,189,332).
    ``timings``: optional dict that receives per-family elapsed seconds
    (``{"cooc": s, ...}``, added to existing values) so callers can
    surface the family share per run instead of per-investigation.
    """
    import time as _time

    def _mark(key: str, t0: float) -> None:
        if timings is not None:
            timings[key] = timings.get(key, 0.0) + (_time.perf_counter() - t0)

    conv, tlen = t.conv, t.tlen
    first = seg_first(conv)
    out: dict[str, np.ndarray] = {}
    if "cooc" in families:
        _t = _time.perf_counter()
        for k in levels:
            xk = discretize_log(tlen, k)
            for d in lags:
                for s, v in cooc_prefix(conv, first, xk, d, k).items():
                    out[f"cooc_{s}_d{d}_k{k}"] = v
        _mark("cooc", _t)
    if "runlen" in families or "xcooc" in families:
        role = _role_idx(t)
        tlen4 = discretize_log(tlen, 4)
    if "runlen" in families:
        _t = _time.perf_counter()
        posb = np.minimum(_seg_pos(first) // 4, 3).astype(np.int64)
        for sig, arr in (
            ("role", role), ("has_tool", t.has_tool),
            ("tlen4", tlen4), ("posb", posb),
        ):
            stats = runlen_prefix(conv, first, arr, RUNLEN_N_LEVELS[sig])
            for s, v in stats.items():
                out[f"runlen_{s}_{sig}"] = v
        _mark("runlen", _t)
    if "xcooc" in families:
        _t = _time.perf_counter()
        # cross-signal direction: who spoke d turns ago × how long the
        # current turn is (role lag-d against the level-4 tlen stream)
        for d in lags:
            for s, v in xcooc_prefix(conv, first, role, tlen4, d).items():
                out[f"xcooc_{s}_d{d}"] = v
        _mark("xcooc", _t)
    if "shape" in families:
        _t = _time.perf_counter()
        ts_s = (t.ts_us * 1000) / 1e9
        t0 = ts_s[np.maximum.accumulate(np.where(first, np.arange(len(conv)), 0))]
        for s, v in shape_prefix(conv, first, ts_s - t0, tlen).items():
            out[f"shape_{s}"] = v
        _mark("shape", _t)
    return out


# --------------------------------------------------------- arrow worker

def turns_from_arrow(rb: pa.RecordBatch) -> Turns:
    """The kernel inputs of a batch of whole sorted conversations.
    ``conv_id`` and ``role`` dictionary-encode C-side, so no per-row
    Python string is ever built; ``ts`` is read as the UTC epoch
    microseconds the Arrow batch carries, whatever the session time
    zone."""
    cd = pc.dictionary_encode(rb.column("conv_id"))
    rd = pc.dictionary_encode(rb.column("role"))
    ts = rb.column("ts").to_numpy(zero_copy_only=False)
    return Turns(
        # null conv_ids share one code of their own: one conversation
        conv=cd.indices.fill_null(len(cd.dictionary))
        .to_numpy(zero_copy_only=False).astype(np.int64, copy=False),
        ts_us=ts.astype("datetime64[us]", copy=False).view(np.int64),
        role=rd.indices.fill_null(-1)
        .to_numpy(zero_copy_only=False).astype(np.int64, copy=False),
        roles=rd.dictionary.to_pylist(),
        has_tool=rb.column("tool").is_valid()
        .to_numpy(zero_copy_only=False).astype(np.int64),
        tlen=rb.column("tlen").to_numpy(zero_copy_only=False),
    )


def _concat(parts: list[pa.RecordBatch]) -> pa.RecordBatch:
    """One contiguous batch out of several: the carry loop's only copy."""
    return pa.Table.from_batches(parts).combine_chunks().to_batches()[0]


def whole_conversations(
    batches: Iterable[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    """Regroup Arrow batches sorted by ``conv_id`` (nulls first, as
    Spark sorts) so that every yielded batch holds whole conversations.

    Each batch's last conversation may go on in the next batch, so it
    is kept back as a zero-copy slice. The kept slices are joined ONCE,
    when the conversation ends, so every input row is copied at most
    once however many batches one conversation spans (re-joining the
    carry on every batch is quadratic in the conversation length)."""
    carry: list[pa.RecordBatch] = []  # slices of one unfinished conversation
    carry_id = None
    for b in batches:
        if not b.num_rows:
            continue
        ids = b.column("conv_id")
        last = ids[b.num_rows - 1].as_py()
        # nulls sort first, so a null last id makes the whole batch the
        # null conversation
        n_tail = (
            ids.null_count if last is None
            else pc.sum(pc.equal(ids, last)).as_py()
        )
        cut = b.num_rows - n_tail
        if carry and (cut or last != carry_id):
            # b's head (possibly empty) finishes the carried conversation
            parts = carry + ([b.slice(0, cut)] if cut else [])
            yield parts[0] if len(parts) == 1 else _concat(parts)
            carry = []
        elif cut:
            yield b.slice(0, cut)
        carry.append(b.slice(cut))
        carry_id = last
    if carry:
        yield carry[0] if len(carry) == 1 else _concat(carry)


def decode(codes: np.ndarray, values: Sequence[str]) -> pa.Array:
    """Dictionary codes (-1 = null) → a string array, decoded C-side."""
    ind = pa.array(codes.astype(np.int32), mask=codes < 0)
    return pa.DictionaryArray.from_arrays(
        ind, pa.array(values, type=pa.string())
    ).dictionary_decode()


def _to_arrow(v) -> pa.Array:
    if isinstance(v, pa.Array):
        return v
    if v.dtype.kind == "f":  # NaN → null, as pandas' from_pandas does
        return pa.array(v, mask=np.isnan(v))
    return pa.array(v)


def conversation_pass(
    prep, fields: Sequence, compute: Callable, num_partitions: int | None = None
):
    """The Arrow worker of both batch plans. Repartitions ``prep`` by
    ``conv_id``, sorts each partition by (conv_id, ts, turn_idx) and
    runs ONE ``mapInArrow`` over it: batches are regrouped into whole
    conversations (:func:`whole_conversations`), and each regrouped
    batch emits ``fields`` — a column ``compute(turns, batch)`` returns
    (float NaN → null), else the input column of that name, zero-copy."""
    from pyspark.sql import types as T

    nparts = num_partitions or prep.sparkSession.sparkContext.defaultParallelism
    prep = prep.repartition(nparts, "conv_id").sortWithinPartitions(
        "conv_id", "ts", "turn_idx"
    )
    names = [f.name for f in fields]

    def emit(rb: pa.RecordBatch) -> pa.RecordBatch:
        out = compute(turns_from_arrow(rb), rb)
        return pa.RecordBatch.from_arrays(
            [_to_arrow(out[nm]) if nm in out else rb.column(nm) for nm in names],
            names=names,
        )

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        guard_zip_caches()
        for rb in whole_conversations(batches):
            yield emit(rb)

    return prep.mapInArrow(gen, T.StructType(list(fields)))


# ----------------------------------------------------------- spark layer

def prefix_features(
    df,
    families: Sequence[str] = ("cooc", "runlen", "xcooc", "shape"),
    lags: Sequence[int] = DEFAULT_LAGS,
    levels: Sequence[int] = DEFAULT_LEVELS,
    num_partitions: int | None = None,
    passthrough: bool = False,
):
    """Distributed prefix-feature pass over a transcript table: ONE
    shuffle (repartition by conversation) + in-partition sort + the
    :func:`conversation_pass` Arrow worker, which stitches
    conversations that span Arrow batches.

    Returns (conv_id, turn_idx, <features…>), or — with ``passthrough``
    — every input column + ``tlen`` + features, row-aligned inside the
    kernel, so the caller skips the (conv_id, turn_idx) sort-merge join
    entirely (measured: the join costs more than the kernels themselves
    at bench scale). Key-joined mode remains for composing with frames
    the kernel didn't see (J2 analog — key-based, never order-based).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    tlen = F.length("text").cast("double").alias("tlen")
    if passthrough:
        prep = df.select("*", tlen)
        keep = list(df.schema.fields) + [T.StructField("tlen", T.DoubleType(), True)]
    else:
        prep = df.select("conv_id", "turn_idx", "ts", "role", "tool", tlen)
        keep = [df.schema["conv_id"], df.schema["turn_idx"]]
    fields = keep + [
        T.StructField(nm, T.DoubleType(), True)
        for nm in feature_names(families, lags, levels)
    ]
    return conversation_pass(
        prep, fields,
        lambda t, rb: kernel_features(t, families, lags, levels),
        num_partitions,
    )

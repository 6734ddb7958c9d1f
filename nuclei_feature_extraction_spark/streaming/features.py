"""STREAMING prefix kernel features — the flagship's co-occurrence and
shape families maintained incrementally per conversation with
``applyInPandasWithState`` (SURVEY §2.7: custom stateful operators for
live transcript feeds).

The batch kernels express prefix stats as segmented cumsums over whole
sorted conversations; a stream sees a conversation in arbitrary
micro-batch slices, so here the SUFFICIENT STATISTICS live in the group
state instead — and both families need only FIXED-SIZE state:

- cooc (lag 1, K=4): the symmetric K×K transition-count matrix (16
  longs) + the previous level. Every Haralick stat is a closed-form
  function of that matrix, so each arriving turn is one O(K²) numpy
  evaluation — no history kept.
- shape: the 2-D moment sums (n, Σu, Σy, Σu², Σy², Σuy), the path
  length, the running u/y extents, the conversation anchor timestamp,
  and the previous point. PCA axes/angle/eccentricity, span area and
  compacity are closed-form in those.

Emitted values match the batch ``prefix_features`` output column for
column (pinned by tests/test_streaming_stateful.py across a replay that
splits conversations mid-stream) — the batch path computes the same
mathematics via incremental identities, so agreement is allclose, not
bitwise.

Rows inside a micro-batch are sorted by (ts, turn_idx); correctness
across micro-batches requires per-conversation event-time monotonicity
between batches (append-only transcript logs replayed in order)."""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from nuclei_feature_extraction_spark.functions.kernels import ROLE_IDX
from nuclei_feature_extraction_spark.functions.oracle import discretize_log
from nuclei_feature_extraction_spark.zipcache import guard_zip_caches

K = 4
KA = 5  # role levels (4 named + other)

COOC_OUT = [
    "correlation", "contrast", "dissimilarity", "entropy", "asm",
    "sum_average", "sum_variance", "sum_entropy", "sum_of_squares",
    "idm", "difference_average", "difference_variance", "imc1", "imc2",
]
SHAPE_OUT = [
    "pca_major", "pca_minor", "pca_angle", "pca_eccentricity",
    "path_len", "span_area", "compacity",
]
XCOOC_OUT = [
    "contrast", "dissimilarity", "mean_a", "mean_b", "correlation",
    "asm", "entropy", "hx", "hy", "mi",
]
RUNLEN_OUT = [
    "n_runs", "rp", "mean_len", "sre", "lre", "rlvar", "gln", "lgre",
    "hgre", "rln", "srlge", "srhge", "srmge", "srege", "lrlge", "lrhge",
    "lrmge", "lrege",
]
RUNLEN_SIGS = (("role", 5), ("has_tool", 2), ("tlen4", 4), ("posb", 4))
# per-signal scalar state layout: r, cur_lev, cur_len, then the 14
# accumulators, then G per-level run-start counts
_RL_ACC = 14

OUT_SCHEMA = (
    "conv_id string, turn_idx int, ts timestamp, "
    + ", ".join(f"cooc_{s}_d1_k4 double" for s in COOC_OUT)
    + ", "
    + ", ".join(f"shape_{s} double" for s in SHAPE_OUT)
    + ", "
    + ", ".join(f"xcooc_{s}_d1 double" for s in XCOOC_OUT)
    + ", "
    + ", ".join(
        f"runlen_{st}_{sig} double" for sig, _ in RUNLEN_SIGS
        for st in RUNLEN_OUT
    )
)
STATE_SCHEMA = (
    "counts array<long>, prev_lev int, n long, su double, sy double, "
    "suu double, syy double, suy double, path double, "
    "umin double, umax double, ymin double, ymax double, "
    "t0_us long, prev_u double, prev_y double, "
    "xcounts array<long>, prev_role int, "
    + ", ".join(
        f"rl_{sig} array<double>, rlh_len_{sig} array<long>, "
        f"rlh_cnt_{sig} array<long>"
        for sig, _ in RUNLEN_SIGS
    )
    # out-of-order guard: per-conversation event-time high-water mark
    # ((ts µs, turn_idx) of the last accepted row) + dropped-row count
    + ", last_us long, last_turn int, n_late long"
    # watermarked reorder buffer (late_policy='buffer'): rows held until
    # the event-time watermark passes them; empty under other policies.
    # CHECKPOINT COMPATIBILITY: these fields were added in round 6 — a
    # streaming query CANNOT restart from a checkpoint written before
    # them (Spark's state-store schema check fails); start a fresh
    # checkpoint dir after upgrading
    + ", buf_us array<long>, buf_turn array<long>, buf_rolei array<long>"
    + ", buf_htool array<long>, buf_tlen array<double>"
)


def _late_mask(
    us: np.ndarray, turn: np.ndarray, last_us: int, last_turn: int
) -> np.ndarray:
    """Enforce per-conversation event-time monotonicity across AND
    within micro-batches: rows at or before the state's (ts, turn_idx)
    high-water mark are LATE (a replayed duplicate or out-of-order
    delivery), and a row whose (ts, turn_idx) equals a preceding row's
    in the SAME sorted batch is a replayed duplicate too (sorting makes
    intra-batch dups adjacent — without this check a replay that lands
    in the original's batch would be silently double-counted into the
    cooc/runlen state even under ``policy='error'``)."""
    late = (us < last_us) | ((us == last_us) & (turn <= last_turn))
    if len(us) > 1:
        late[1:] |= (us[1:] == us[:-1]) & (turn[1:] == turn[:-1])
    return late


def _apply_late_policy(
    us: np.ndarray, turn: np.ndarray, late: np.ndarray,
    policy: str, conv: str, last_us: int, last_turn: int,
):
    """→ (keep mask | None, n_dropped). ``policy='error'`` fails the
    query loudly — silently wrong prefixes are worse than a dead
    stream; ``policy='drop'`` skips late rows (count carried in state;
    an ``observe`` on input vs output rows surfaces the deficit as a
    lineage metric). The 'buffer' policy routes here with 'drop'
    semantics only for rows late beyond the watermark reorder horizon."""
    if not late.any():
        return None, 0
    if policy == "error":
        i = int(np.argmax(late))
        raise ValueError(
            f"out-of-order or duplicate input for conv_id={conv!r}: row "
            f"(ts_us={int(us[i])}, turn_idx={int(turn[i])}) arrived after "
            f"high-water mark (ts_us={int(last_us)}, turn_idx="
            f"{int(last_turn)}) or duplicates a row in its own "
            "micro-batch; replay micro-batches in event-time order "
            "or pass late_policy='drop' / 'buffer'"
        )
    return ~late, int(late.sum())

_XAI = np.arange(KA, dtype=np.float64)[:, None]  # role axis (rows)
_XBJ = np.arange(K, dtype=np.float64)[None, :]   # level axis (cols)

_IV = np.arange(K, dtype=np.float64)
_IG, _JG = np.meshgrid(_IV, _IV, indexing="ij")
_KSUM = (_IG + _JG).astype(np.int64)
_LDIFF = np.abs(_IG - _JG).astype(np.int64)


def _xlogx(a):
    return np.where(a > 0, a * np.log(np.maximum(a, 1e-300)), 0.0)


# one-hot aggregation masks for the sum/difference marginals: a (n, 16)
# probability block @ mask.T gives all rows' marginals in one matmul
_M_SUM = np.zeros((2 * K - 1, K * K))
_M_DIFF = np.zeros((K, K * K))
for _i in range(K):
    for _j in range(K):
        _M_SUM[_i + _j, _i * K + _j] = 1.0
        _M_DIFF[abs(_i - _j), _i * K + _j] = 1.0


def _cooc_stats_vec(C: np.ndarray) -> np.ndarray:
    """(n, K, K) count snapshots → (n, 14) Haralick stats, fully
    vectorized over the rows of a micro-batch group (the per-row
    tiny-matrix numpy formulation cost ~50 numpy dispatches per row —
    ~20× this).

    The exact-accumulator stats (contrast/dissimilarity/sum_average/
    sum_of_squares/correlation) are computed as INTEGER-sum-then-divide
    with the same expression tree as the batch kernel and the DuckDB
    oracle — integer sums are order-independent in float64, so the final
    doubles are bit-identical across batch, streaming and oracle (the
    driver's value-hash is over string reprs, not allclose)."""
    n = len(C)
    s = C.sum(axis=(1, 2))
    ok = s > 0
    safe = np.where(ok, s, 1.0)
    p = C / safe[:, None, None]
    with np.errstate(divide="ignore", invalid="ignore"):
        # ---- exact-integer accumulators, sum-then-divide -------------
        con_c = np.einsum("nij,ij->n", C, (_IG - _JG) ** 2)
        dis_c = np.einsum("nij,ij->n", C, np.abs(_IG - _JG))
        mu_c = np.einsum("nij,ij->n", C, _IG)      # Σ rows (i+j) by symmetry
        m2_c = np.einsum("nij,ij->n", C, _IG * _IG)
        eij_c = np.einsum("nij,ij->n", C, _IG * _JG)
        contrast = con_c / safe
        dissim = dis_c / safe
        mu = mu_c / safe
        var = m2_c / safe - mu * mu
        eij = eij_c / safe
        corr = np.where(var > 1e-9, (eij - mu * mu) / var, np.nan)
        sa = 2.0 * mu_c / safe
        # ---- float-accumulated stats (pytest-allclose verified) ------
        px = p.sum(axis=2)
        entropy = -_xlogx(p).sum(axis=(1, 2))
        asm = (p**2).sum(axis=(1, 2))
        p16 = p.reshape(n, K * K)
        psum = p16 @ _M_SUM.T
        kk = np.arange(2 * K - 1, dtype=np.float64)
        sv = ((kk[None, :] - sa[:, None]) ** 2 * psum).sum(axis=1)
        se = -_xlogx(psum).sum(axis=1)
        idm = np.einsum("nij,ij->n", p, 1.0 / (1.0 + (_IG - _JG) ** 2))
        da = dissim
        dv = contrast - da * da
        hx = -_xlogx(px).sum(axis=1)
        imc1 = np.where(hx > 1e-9, (entropy - 2 * hx) / hx, np.nan)
        imc2 = np.sqrt(np.clip(1.0 - np.exp(-2.0 * (2 * hx - entropy)), 0.0, None))
    out = np.column_stack([
        corr, contrast, dissim, entropy, asm, sa, sv, se, var,
        idm, da, dv, imc1, imc2,
    ])
    out[~ok] = np.nan
    return out


def _xcooc_stats_vec(C: np.ndarray) -> np.ndarray:
    """(n, KA, K) asymmetric cross-count snapshots → (n, 10) stats
    (same formulas/guards as kernels.xcooc_prefix).

    Exact-accumulator stats (contrast/dissimilarity/means/correlation/
    asm) use integer-sum-then-divide with the oracle's expression tree —
    see _cooc_stats_vec — so their doubles are bit-identical across
    engines; the entropies stay float-accumulated (pytest-allclose)."""
    s = C.sum(axis=(1, 2))
    ok = s > 0
    safe = np.where(ok, s, 1.0)
    p = C / safe[:, None, None]
    _GA = np.broadcast_to(_XAI, (KA, K))
    _GB = np.broadcast_to(_XBJ, (KA, K))
    with np.errstate(divide="ignore", invalid="ignore"):
        con_c = np.einsum("nij,ij->n", C, (_GA - _GB) ** 2)
        dis_c = np.einsum("nij,ij->n", C, np.abs(_GA - _GB))
        ai_c = np.einsum("nij,ij->n", C, _GA)
        bj_c = np.einsum("nij,ij->n", C, _GB)
        i2_c = np.einsum("nij,ij->n", C, _GA * _GA)
        j2_c = np.einsum("nij,ij->n", C, _GB * _GB)
        ij_c = np.einsum("nij,ij->n", C, _GA * _GB)
        c2_c = (C * C).sum(axis=(1, 2))
        contrast = con_c / safe
        dissim = dis_c / safe
        mean_a = ai_c / safe
        mean_b = bj_c / safe
        var_a = i2_c / safe - mean_a * mean_a
        var_b = j2_c / safe - mean_b * mean_b
        cov = ij_c / safe - mean_a * mean_b
        denom = var_a * var_b
        corr = np.where(
            denom > 1e-9, cov / np.sqrt(np.where(denom > 0, denom, 1.0)),
            np.nan,
        )
        asm = c2_c / (safe * safe)
        pa = p.sum(axis=2)
        pb = p.sum(axis=1)
        entropy = -_xlogx(p).sum(axis=(1, 2))
        hx = -_xlogx(pa).sum(axis=1)
        hy = -_xlogx(pb).sum(axis=1)
        mi = hx + hy - entropy
    out = np.column_stack([
        contrast, dissim, mean_a, mean_b, corr, asm, entropy, hx, hy, mi,
    ])
    out[~ok] = np.nan
    return out


def _shape_stats_vec(snap: np.ndarray) -> np.ndarray:
    """(n, 11) moment snapshots [n, su, sy, suu, syy, suy, path, umin,
    umax, ymin, ymax] → (n, 7) shape stats (guards mirror
    kernels.shape_prefix)."""
    (nn, su, sy, suu, syy, suy, path, umin, umax, ymin, ymax) = snap.T
    with np.errstate(divide="ignore", invalid="ignore"):
        mu, my = su / nn, sy / nn
        a = suu / nn - mu * mu
        c2 = syy / nn - my * my
        b = suy / nn - mu * my
        tr = a + c2
        disc = np.sqrt(((a - c2) / 2.0) ** 2 + b * b)
        l1 = tr / 2.0 + disc
        l2 = np.clip(tr / 2.0 - disc, 0.0, None)
        valid = (nn >= 2) & (l1 > 0)
        major = np.where(valid, 2.0 * np.sqrt(np.clip(l1, 0, None)), np.nan)
        minor = np.where(valid, 2.0 * np.sqrt(l2), np.nan)
        ecc = np.where(
            valid, np.sqrt(np.clip((l1 - l2) / np.where(l1 > 0, l1, 1.0), 0, 1)),
            np.nan,
        )
        vx = np.where(np.abs(b) > 1e-12, b, np.where(a >= c2, 1.0, 0.0))
        vy = np.where(np.abs(b) > 1e-12, l1 - a, np.where(a >= c2, 0.0, 1.0))
        angle = np.where(
            valid & (disc > 1e-12), np.arctan2(vy, vx) % np.pi, np.nan
        )
        two = nn >= 2
        area = (umax - umin) * (ymax - ymin)
        compacity = np.where(
            two & (area > 0), path * path / (4 * np.pi * area), np.nan
        )
    return np.column_stack([
        major, minor, angle, ecc,
        np.where(two, path, np.nan), np.where(two, area, np.nan), compacity,
    ])


def _runlen_stats_vec(snap: np.ndarray, np1: np.ndarray) -> np.ndarray:
    """(n, 15) accumulator snapshots [r, c_sre, c_lre, c_gln, c_lgre,
    c_hgre, 8 joint emphases, c_rln] → (n, 18) GLRLM stats."""
    r = snap[:, 0]
    mean_len = np1 / r
    lre = snap[:, 2] / r
    cols = [r, r / np1, mean_len, snap[:, 1] / r, lre, lre - mean_len**2]
    cols += [snap[:, j] / r for j in range(3, 15)]
    # order: gln, lgre, hgre at 3..5; joints 6..13; rln last (14) — map
    # into RUNLEN_OUT order [... gln lgre hgre RLN sr* lr*]
    out = np.column_stack(cols)
    # current layout: [r, rp, mean_len, sre, lre, rlvar, gln, lgre,
    #                  hgre, srlge, srhge, srmge, srege, lrlge, lrhge,
    #                  lrmge, lrege, rln] — move rln before the joints
    reordered = np.empty_like(out)
    reordered[:, :9] = out[:, :9]
    reordered[:, 9] = out[:, 17]       # rln
    reordered[:, 10:18] = out[:, 9:17]
    return reordered


def _runlen_advance(st: list, hist: dict, v: int, g: int) -> None:
    """Advance ONE signal's run-length state by one row of level ``v``
    — the streaming twin of the batch kernels.runlen_prefix identities
    (same per-row deltas, same signed dec/inc RLN bookkeeping), with
    the sufficient statistics as scalars + the sparse run-length
    histogram (distinct lengths are O(sqrt(rows)), so state stays
    tiny)."""
    if st[0] == 0.0 or v != int(st[1]):  # new run
        st[0] += 1.0
        st[1] = float(v)
        st[2] = 1.0
        rvi = 17 + v
        st[rvi] += 1.0
        st[5] += 2.0 * st[rvi] - 1.0              # gln
        short_d = 1.0
        long_d = 1.0
        low = 1.0 / (v + 1) ** 2
        high = float((v + 1) ** 2)
        st[6] += low                               # lgre
        st[7] += high                              # hgre
        c1 = hist.get(1, 0)
        st[16] += 2.0 * c1 + 1.0                   # rln Σc²: inc bucket 1
        hist[1] = c1 + 1
    else:  # grow current run
        l = int(st[2]) + 1
        st[2] = float(l)
        short_d = 1.0 / l**2 - 1.0 / (l - 1) ** 2
        long_d = 2.0 * l - 1.0
        low = 1.0 / (v + 1) ** 2
        high = float((v + 1) ** 2)
        cprev = hist.get(l - 1, 0)
        st[16] += -(2.0 * cprev - 1.0)             # dec bucket l−1
        if cprev == 1:
            del hist[l - 1]
        else:
            hist[l - 1] = cprev - 1
        cl = hist.get(l, 0)
        st[16] += 2.0 * cl + 1.0                   # inc bucket l
        hist[l] = cl + 1
    dc = abs(v - (g - 1) / 2.0)
    midw = 1.0 / (dc + 1) ** 2
    extw = (dc + 1) ** 2
    st[3] += short_d                               # sre
    st[4] += long_d                                # lre
    st[8] += low * short_d                         # srlge
    st[9] += high * short_d                        # srhge
    st[10] += midw * short_d                       # srmge
    st[11] += extw * short_d                       # srege
    st[12] += low * long_d                         # lrlge
    st[13] += high * long_d                        # lrhge
    st[14] += midw * long_d                        # lrmge
    st[15] += extw * long_d                        # lrege


class _MaxAccumulatorParam:
    """max-fold accumulator (peak gauges). Declared duck-typed (zero /
    addInPlace) — pyspark's AccumulatorParam is just this protocol.

    ``zero(value)`` deliberately returns ``value`` (not an additive
    identity): pyspark seeds each worker copy with
    ``param.zero(current)``, and because max is idempotent a worker
    starting at the driver's running max folds correctly. Do NOT reuse
    this class for an additive fold — the same seeding would
    double-count; an additive param must return a true identity."""

    def zero(self, value):
        return value

    def addInPlace(self, a, b):
        return a if a >= b else b


def streaming_state_metrics(spark) -> dict:
    """Observable late/buffer state metrics for the stateful streaming
    operators (VERDICT r6 ask #4): pass the dict as
    ``streaming_prefix_features(..., state_metrics=...)`` (same for the
    window stack). After each micro-batch:

    - ``n_late``         (sum): rows dropped past the high-water mark /
      reorder horizon — the state-internal counter, now visible without
      reading state.
    - ``buffer_peak_depth`` (max): the deepest per-conversation pending
      reorder buffer seen so far — an unbounded buffer under a
      misconfigured watermark shows up HERE instead of as silent
      executor memory growth.

    AT-LEAST-ONCE: accumulators update inside the stateful
    transformation, so task retries can double-count ``n_late`` (the
    max-fold peak is retry-stable). Tripwire numbers, not exact meters —
    the state-carried ``n_late`` stays the exactly-once ledger."""
    sc = spark.sparkContext
    return {
        "n_late": sc.accumulator(0),
        "buffer_peak_depth": sc.accumulator(0, _MaxAccumulatorParam()),
    }


# column order of the state-carried row buffer (late_policy='buffer')
_BUF_DTYPES = (
    ("us", np.int64), ("turn", np.int64), ("rolei", np.int64),
    ("htool", np.int64), ("tlen", np.float64),
)


def _extract(rows: pd.DataFrame) -> dict[str, np.ndarray]:
    """Sorted micro-batch rows → the plain-array representation the
    state machine (and the state-carried reorder buffer) works on."""
    rows = rows.sort_values(["ts", "turn_idx"], kind="mergesort")
    return {
        "us": rows["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64),
        "turn": rows["turn_idx"].to_numpy(dtype=np.int64),
        "rolei": rows["role"].map(ROLE_IDX).fillna(KA - 1)
        .to_numpy(dtype=np.int64),
        "htool": rows["tool"].notna().to_numpy().astype(np.int64),
        "tlen": rows["tlen"].to_numpy(dtype=np.float64),
    }


def _take(arr: dict[str, np.ndarray], mask) -> dict[str, np.ndarray]:
    return {k: v[mask] for k, v in arr.items()}


def _update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState,
    late_policy: str = "error", metrics: dict | None = None,
) -> Iterator[pd.DataFrame]:
    dfs = [p for p in pdfs if len(p)]
    if dfs:
        arr = _extract(pd.concat(dfs, ignore_index=True))
    else:
        # timeout invocation (buffer flush) or empty batch
        arr = {k: np.empty(0, dtype=dt) for k, dt in _BUF_DTYPES}
    buffering = late_policy == "buffer"

    n_late = 0
    base = 18 + 3 * len(RUNLEN_SIGS)
    if state.exists:
        got = state.get
        (counts_l, prev_lev, n, su, sy, suu, syy, suy, path,
         umin, umax, ymin, ymax, t0_us, prev_u, prev_y,
         xcounts_l, prev_role) = got[:18]
        last_us, last_turn, n_late = got[base], got[base + 1], got[base + 2]
        counts = list(counts_l)
        xcounts = list(xcounts_l)
        rl_states, rl_hists = [], []
        for si in range(len(RUNLEN_SIGS)):
            sc, hl, hc = got[18 + 3 * si : 18 + 3 * si + 3]
            rl_states.append(list(sc))
            rl_hists.append(dict(zip(hl, hc)))
        # buf_* fields are buffer-era (STATE_SCHEMA grew in round 6):
        # pre-buffer checkpoints are NOT restart-compatible (Spark's
        # state-store schema check rejects them up front); this guard
        # covers validation-disabled deployments / null arrays by
        # degrading missing buffer fields to an empty buffer
        pend = {
            k: np.asarray(
                got[base + 3 + i]
                if len(got) > base + 3 + i and got[base + 3 + i] is not None
                else (),
                dtype=dt,
            )
            for i, (k, dt) in enumerate(_BUF_DTYPES)
        }
    else:
        # no cross-batch high-water mark yet — sentinel below any real
        # timestamp so an intra-batch replay in the conversation's FIRST
        # batch still routes through the late policy
        last_us, last_turn = -(2**63), -1
        counts = [0.0] * (K * K)
        xcounts = [0.0] * (KA * K)
        prev_lev, prev_role, n = -1, -1, 0
        su = sy = suu = syy = suy = path = 0.0
        umin = ymin = np.inf
        umax = ymax = -np.inf
        t0_us = -1  # anchored lazily to the first ACCEPTED row below
        prev_u = prev_y = 0.0
        rl_states = [
            [0.0] * (3 + _RL_ACC + g) for _, g in RUNLEN_SIGS
        ]
        rl_hists = [dict() for _ in RUNLEN_SIGS]
        pend = {k: np.empty(0, dtype=dt) for k, dt in _BUF_DTYPES}

    if buffering:
        # watermarked reorder buffer: hold every row until the event-time
        # watermark passes it, then release in (ts, turn_idx) order — a
        # shuffled micro-batch replay within the watermark delay emits
        # the exact batch output. Rows later than even that horizon fall
        # through to drop-with-count below.
        wm_us = max(state.getCurrentWatermarkMs(), 0) * 1000
        merged = {
            k: np.concatenate([pend[k], arr[k]]) for k, _ in _BUF_DTYPES
        }
        order = np.lexsort((merged["turn"], merged["us"]))
        merged = _take(merged, order)
        ready = merged["us"] < wm_us
        pend = _take(merged, ~ready)
        arr = _take(merged, ready)

    def _persist():
        state.update((
            [int(v) for v in counts], int(prev_lev), int(n),
            float(su), float(sy), float(suu), float(syy), float(suy),
            float(path), float(umin), float(umax), float(ymin),
            float(ymax), int(t0_us), float(prev_u), float(prev_y),
            [int(v) for v in xcounts], int(prev_role),
            *[x for si in range(len(RUNLEN_SIGS)) for x in (
                [float(v) for v in rl_states[si]],
                [int(v) for v in sorted(rl_hists[si])],
                [int(rl_hists[si][v]) for v in sorted(rl_hists[si])],
            )],
            int(last_us), int(last_turn), int(n_late),
            *[pend[k].tolist() for k, _ in _BUF_DTYPES],
        ))
        if buffering and len(pend["us"]):
            # flush the remainder as soon as the watermark next advances
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
            arr = _take(arr, keep)
        n_late += dropped
        if metrics is not None and dropped:
            metrics["n_late"].add(int(dropped))
    if not len(arr["us"]):
        if state.exists or buffering:
            _persist()
        return

    us = arr["us"]
    if n == 0:
        t0_us = int(us[0])
    tlen = arr["tlen"]
    levs = discretize_log(tlen, K)
    roles = arr["rolei"]
    has_tool = arr["htool"]

    # ---- per-row STATE updates only (plain python, no numpy in the
    # loop); stat evaluation is vectorized over the snapshots below
    m = len(us)
    cooc_snap = np.empty((m, K * K))
    xcooc_snap = np.empty((m, KA * K))
    shape_snap = np.empty((m, 11))
    rl_snaps = [np.empty((m, 15)) for _ in RUNLEN_SIGS]
    np1s = np.empty(m)
    hypot = math.hypot
    for i in range(m):
        lev = int(levs[i])
        role = int(roles[i])
        pos = n  # 0-based row index within the conversation
        if prev_lev >= 0:
            counts[prev_lev * K + lev] += 1.0
            counts[lev * K + prev_lev] += 1.0
        if prev_role >= 0:
            xcounts[prev_role * K + lev] += 1.0
        prev_lev = lev
        prev_role = role
        u = (us[i] - t0_us) / 1e6
        y = tlen[i]
        if n >= 1:
            path += float(hypot(u - prev_u, y - prev_y))
        prev_u, prev_y = u, y
        n += 1
        su += u; sy += y
        suu += u * u; syy += y * y; suy += u * y
        if u < umin: umin = u
        if u > umax: umax = u
        if y < ymin: ymin = y
        if y > ymax: ymax = y

        cooc_snap[i] = counts
        xcooc_snap[i] = xcounts
        shape_snap[i] = (n, su, sy, suu, syy, suy, path,
                         umin, umax, ymin, ymax)
        np1s[i] = n
        sig_vals = (role, int(has_tool[i]), lev, min(pos // 4, 3))
        for si, (_, g) in enumerate(RUNLEN_SIGS):
            st = rl_states[si]
            _runlen_advance(st, rl_hists[si], sig_vals[si], g)
            rl_snaps[si][i, 0] = st[0]
            rl_snaps[si][i, 1:15] = st[3:17]

    last_us, last_turn = int(us[-1]), int(arr["turn"][-1])
    _persist()

    data = {
        "conv_id": key[0],
        "turn_idx": arr["turn"].astype(np.int32),
        "ts": us.astype("datetime64[us]"),
    }
    cooc_stats = _cooc_stats_vec(cooc_snap.reshape(m, K, K))
    for j, s_ in enumerate(COOC_OUT):
        data[f"cooc_{s_}_d1_k4"] = cooc_stats[:, j]
    shape_stats = _shape_stats_vec(shape_snap)
    for j, s_ in enumerate(SHAPE_OUT):
        data[f"shape_{s_}"] = shape_stats[:, j]
    xc = _xcooc_stats_vec(xcooc_snap.reshape(m, KA, K))
    for j, s_ in enumerate(XCOOC_OUT):
        data[f"xcooc_{s_}_d1"] = xc[:, j]
    for si, (sig, _) in enumerate(RUNLEN_SIGS):
        rl = _runlen_stats_vec(rl_snaps[si], np1s)
        for j, s_ in enumerate(RUNLEN_OUT):
            data[f"runlen_{s_}_{sig}"] = rl[:, j]
    yield pd.DataFrame(data)


def streaming_prefix_features(
    stream: DataFrame,
    late_policy: str = "error",
    watermark_delay: str = "0 seconds",
    state_metrics: dict | None = None,
) -> DataFrame:
    """Per-turn co-occurrence (lag 1, K=4) + shape prefix features over
    a live transcript stream, state-incremental per conversation.

    ``late_policy``: what to do with rows that arrive at or before the
    conversation's (ts, turn_idx) high-water mark —

    - ``'error'`` (default): fail the query loudly.
    - ``'drop'``: skip them (deficit observable by comparing input vs
      output row counts).
    - ``'buffer'``: hold EVERY row in state until the event-time
      watermark (``withWatermark('ts', watermark_delay)``, applied here)
      passes it, then release in (ts, turn_idx) order — micro-batches
      shuffled within the watermark delay reproduce the exact batch
      output (event-time-timeout flushes quiesced conversations as the
      watermark advances; rows late beyond even the watermark fall back
      to drop-with-count). Buffer size is bounded by the rows arriving
      inside one watermark delay per conversation.

    ``state_metrics``: optional dict from
    :func:`streaming_state_metrics` — per-micro-batch drop counts and
    peak pending-buffer depth become driver-observable accumulators
    (at-least-once; see that function's docstring)."""
    if late_policy not in ("error", "drop", "buffer"):
        raise ValueError(
            "late_policy must be 'error', 'drop' or 'buffer', "
            f"got {late_policy!r}"
        )

    def fn(key, pdfs, state):
        guard_zip_caches()
        return _update(key, pdfs, state, late_policy, state_metrics)

    src = stream.select(
        "conv_id", "turn_idx", "ts", "role", "tool",
        F.length("text").cast("double").alias("tlen"),
    )
    timeout = GroupStateTimeout.NoTimeout
    if late_policy == "buffer":
        # watermarks require TIMESTAMP (with local tz); transcript logs
        # are often NTZ — the session runs UTC, so the cast is exact
        src = src.withColumn(
            "ts", F.col("ts").cast("timestamp")
        ).withWatermark("ts", watermark_delay)
        timeout = GroupStateTimeout.EventTimeTimeout
    return src.groupBy("conv_id").applyInPandasWithState(
        fn, OUT_SCHEMA, STATE_SCHEMA, "append", timeout
    )

"""Mergeable quantile digest for cross-tier re-aggregation.

The cascade (1m → 1h → 1d) must MERGE per-window quantile state, not
recompute from raw (SURVEY.md §4: "quantile sketches across tiers"). Spark's
`approx_percentile` can't re-aggregate from stored state, so each rollup
window carries a fixed-size inverse-CDF grid:

    qdigest = [Q(0), Q(1/K), ..., Q(1)]   (K+1 doubles, K=64 default)

Building from raw values is an exact quantile evaluation (1m windows are
small). Merging digests is a weighted quantile of the reconstructed samples:
each digest contributes its K+1 grid points with weight count/(K+1). The
result is again a K+1 grid, so merging is associative enough for tier
cascades. The intended rank error per merge level is O(1/K) (~1.6% at
K=64), but it is NOT a bound the engine holds: a tier's error depends on
which Arrow batches split a window into partial digests, and seed 12 of
``tests/test_rollup.py::test_digest_rank_error_bound_every_tier`` reaches
0.0191 at 1m (a strict xfail until the merge is fixed; ROADMAP item 1).

All kernels are vectorized numpy invoked from pandas/Arrow UDFs — no per-row
Python (driver rule).
"""

from __future__ import annotations

import numpy as np

K_DEFAULT = 64


def digest_from_values(values: np.ndarray, k: int = K_DEFAULT) -> np.ndarray:
    """Adaptive digest: EXACT sorted sample while n ≤ k+1 (zero error — the
    common case for 1m windows), inverse-CDF grid above that (rank error
    ≤ 1/k). Variable-length array<double>; `digest_quantile` evaluates both
    forms identically (linspace interp over a sorted sample IS numpy's
    linear quantile)."""
    v = np.asarray(values, dtype=np.float64)
    if v.size == 0:
        return np.full(k + 1, np.nan)
    if v.size <= k + 1:
        return np.sort(v)
    return np.quantile(v, np.linspace(0.0, 1.0, k + 1))


def merge_digests(
    digests: list[np.ndarray] | np.ndarray,
    counts: np.ndarray,
    k: int = K_DEFAULT,
) -> np.ndarray:
    """Weighted merge of inverse-CDF grids → new grid of the same size."""
    ds, ws, exact = [], [], True
    total = 0.0
    for d, c in zip(digests, np.asarray(counts, dtype=np.float64)):
        d = np.asarray(d, dtype=np.float64)
        if d.size == 0 or np.isnan(d).all() or c <= 0:
            continue
        ds.append(d)
        ws.append(np.full(d.size, c / d.size))
        total += c
        if d.size != int(c):
            exact = False
    if not ds:
        return np.full(k + 1, np.nan)
    x = np.concatenate(ds)
    w = np.concatenate(ws)
    order = np.argsort(x, kind="stable")
    x, w = x[order], w[order]
    if exact and x.size <= k + 1:
        # every point is a raw sample and the merge still fits: stay exact
        return x
    cw = np.cumsum(w)
    # numpy linear-quantile rank convention: first point rank 0, last rank 1
    denom = cw[-1] - w[-1]
    ranks = (cw - w) / denom if denom > 0 else np.zeros_like(cw)
    grid = np.linspace(0.0, 1.0, k + 1)
    return np.interp(grid, ranks, x)


def merge_digest_series(states, k: int = K_DEFAULT) -> list:
    """Batch form of `merge_digests` for a whole Arrow batch (optimization
    round 7, guide §4.2 "hand whole batches to vectorized native code"):
    ``states`` is a sequence whose elements are lists of
    ``{"qdigest": array, "cnt": n}`` structs (one element per output row).

    The exact-regime rows — every input digest is a raw sorted sample
    (size == cnt) and the merged size still fits k+1 — are merged in ONE
    vectorized pass: concatenate across the batch, one stable lexsort
    keyed (row, value), split at row boundaries. That is bit-identical to
    `merge_digests`' exact path (stable sort of the same concatenation)
    and it is the common case for 1m windows, where per-row numpy calls
    (~15 tiny ops each) previously dominated the merge stage. Rows
    needing the grid path (oversize or non-exact digests, NaN padding)
    fall back to `merge_digests` row by row — unchanged results."""
    n_rows = len(states)
    out: list = [None] * n_rows
    fast_idx: list[int] = []
    fast_digs: list[np.ndarray] = []
    fast_sizes: list[int] = []
    for i, st in enumerate(states):
        digs, exact, total = [], True, 0
        for s in st:
            d = np.asarray(s["qdigest"], dtype=np.float64)
            c = s["cnt"]
            if d.size == 0 or c is None or c <= 0:
                continue
            digs.append(d)
            total += int(c)
            if d.size != int(c):
                exact = False
        if not digs:
            out[i] = np.full(k + 1, np.nan)
        elif exact and total <= k + 1:
            fast_idx.append(i)
            fast_digs.extend(digs)
            fast_sizes.append(sum(d.size for d in digs))
        else:
            out[i] = merge_digests(
                [np.asarray(s["qdigest"], float) for s in st],
                np.asarray([s["cnt"] for s in st], float), k,
            )
    if fast_idx:
        flat = np.concatenate(fast_digs)
        sizes = np.asarray(fast_sizes)
        bounds = np.cumsum(sizes)[:-1]
        if np.isnan(flat).any():
            # rare NaN padding: demote every fast row to the per-row kernel
            for i in fast_idx:
                st = states[i]
                out[i] = merge_digests(
                    [np.asarray(s["qdigest"], float) for s in st],
                    np.asarray([s["cnt"] for s in st], float), k,
                )
        else:
            rows = np.repeat(np.arange(len(sizes)), sizes)
            order = np.lexsort((flat, rows))
            for i, piece in zip(fast_idx, np.split(flat[order], bounds)):
                out[i] = piece
    return out


def digest_quantile(digest: np.ndarray, p: float) -> float:
    """Evaluate quantile p from a stored grid."""
    d = np.asarray(digest, dtype=np.float64)
    grid = np.linspace(0.0, 1.0, d.size)
    return float(np.interp(p, grid, d))

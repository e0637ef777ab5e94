"""Pure pandas/numpy oracle transcribing the reference kernels exactly
(FIXTURES.md "Oracle / runner" — the reference's D3M stack is not
installable, so the cited kernels are re-derived here in plain numpy;
file:line provenance on each function).

scipy is not available in the sandbox; the scipy formulas used by the
reference (bias=True population moments, Fisher kurtosis, scaled MAD) are
written out explicitly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def _skew(a: np.ndarray) -> float:
    # scipy.stats.skew(bias=True): g1 = m3 / m2^1.5
    a = np.asarray(a, float)
    m = a.mean()
    m2 = ((a - m) ** 2).mean()
    m3 = ((a - m) ** 3).mean()
    return 0.0 if m2 == 0 else m3 / m2**1.5


def _kurtosis(a: np.ndarray) -> float:
    # scipy.stats.kurtosis(fisher=True, bias=True): m4/m2^2 - 3
    a = np.asarray(a, float)
    m = a.mean()
    m2 = ((a - m) ** 2).mean()
    m4 = ((a - m) ** 4).mean()
    return -3.0 if m2 == 0 else m4 / m2**2 - 3.0


def _mad(a: np.ndarray) -> float:
    # scipy.stats.median_absolute_deviation default scale = 1.4826
    a = np.asarray(a, float)
    return 1.4826 * float(np.median(np.abs(a - np.median(a))))


_KERNELS = {
    "mean": np.mean,
    "median": np.median,
    "maximum": np.max,
    "minimum": np.min,
    "std": lambda a: np.std(a),          # ddof=0, StatisticalStd.py:324
    "var": lambda a: np.var(a),          # ddof=0, StatisticalVar.py:324
    "skew": lambda a: round(_skew(a), 4),              # StatisticalSkew.py:326
    "kurtosis": lambda a: round(_kurtosis(a), 4),      # StatisticalKurtosis.py:324
    "variation": lambda a: np.round(np.std(a) / np.mean(a), 4),  # Variation.py:326
    "vec_sum": np.sum,                                  # StatisticalVecSum.py:325
    "abs_sum": lambda a: np.sum(np.abs(a)),             # StatisticalAbsSum.py:323
    "abs_energy": lambda a: np.round(np.sum(a * a), 4),  # AbsEnergy.py:325
    "mean_abs": lambda a: np.mean(np.abs(a)),           # StatisticalMeanAbs.py:324
    "gmean": lambda a: np.round(np.exp(np.mean(np.log(a))), 4),  # Gmean.py:330
    "hmean": lambda a: np.round(len(a) / np.sum(1.0 / np.asarray(a, float)), 4),
    "mean_temporal_derivative": lambda a: np.mean(np.diff(a)),   # MTD.py:324
    "mean_abs_temporal_derivative": lambda a: np.mean(np.abs(np.diff(a))),
    "median_absolute_deviation": lambda a: round(_mad(a), 4),    # MAD.py:327
}


def stat_window(values, stat: str, window_size: int, threshold: float = 0.0):
    """Trailing window + backfill loop, transcribed from
    tods/feature_analysis/StatisticalMean.py:308-326 (and siblings)."""
    x = np.asarray(values, dtype=float)
    n = len(x)
    if stat == "zero_crossing":
        out = np.zeros(n)
        for i in range(1, n):
            if x[i] * x[i - 1] < 0.0:
                out[i] = 1.0
        return out
    w = n if window_size == -1 else window_size
    if stat == "willison_amplitude":
        # StatisticalWillisonAmplitude.py:312-338: |diff| with prepended 0
        d = np.abs(np.diff(np.concatenate(([0.0], x))))
        ind = (d > threshold).astype(float)
        out = np.zeros(n)
        for i in range(w - 1, n):
            out[i] = np.sum(ind[i - w + 1 : i + 1])
        out[: w - 1] = out[w - 1]
        return out
    kern = _KERNELS[stat]
    out = np.zeros(n)
    for i in range(w - 1, n):
        out[i] = kern(x[i - w + 1 : i + 1])
    out[: w - 1] = out[w - 1]
    return out


def moving_average(values):
    """Centered w=3 partial-edge mean (MovingAverageTransformer.py:198)."""
    return (
        pd.Series(np.asarray(values, float))
        .rolling(3, min_periods=1, center=True)
        .mean()
        .to_numpy()
    )


def resample_mean(ts_epoch, values, labels, interval_s=300):
    """TimeIntervalTransform.py:148-169: resample-interval mean + binarized
    label; only non-empty buckets."""
    bucket = (np.asarray(ts_epoch, dtype=np.int64) // interval_s) * interval_s
    df = pd.DataFrame({"b": bucket, "v": values, "g": labels})
    out = df.groupby("b").agg(v=("v", "mean"), g=("g", "max")).reset_index()
    out["g"] = (out["g"] > 0).astype(int)
    return out


def gap_fill(timestamps, value_cols: dict, labels, interval=1.0):
    """ContinuityValidation imputation (ContinuityValidation.py:139-164):
    for each adjacent gap insert blank-1 rows at t1 + j*interval with
    linearly interpolated values; label copied from the RIGHT row."""
    ts = np.asarray(timestamps, float)
    rows = []
    n = len(ts)
    for i in range(n - 1):
        rows.append(
            {"timestamp": ts[i], **{c: v[i] for c, v in value_cols.items()},
             "ground_truth": labels[i]}
        )
        blank = (ts[i + 1] - ts[i]) / interval
        if blank != 1.0:
            nb = int(round(blank))
            for j in range(1, nb):
                rows.append(
                    {
                        "timestamp": ts[i] + j * interval,
                        **{
                            c: v[i] + (v[i + 1] - v[i]) / nb * j
                            for c, v in value_cols.items()
                        },
                        "ground_truth": labels[i + 1],
                    }
                )
    rows.append(
        {"timestamp": ts[-1], **{c: v[-1] for c, v in value_cols.items()},
         "ground_truth": labels[-1]}
    )
    out = pd.DataFrame(rows).sort_values("timestamp").reset_index(drop=True)
    return out


def gap_fill_tier(pdf: pd.DataFrame, interval_s: int, key: str = "source",
                  value: str = "avg_n_tok", count: str = "cnt",
                  window_col: str = "window_start") -> pd.DataFrame:
    """Per-key tumbling-window gap-fill (operators/gapfill.gap_fill_tier):
    each key's grid from its first to its last observed window; a missing
    window gets is_gap, count 0 and value interpolated linearly between
    the nearest observed windows before and after, in the engine's
    operation order (prev + (next - prev) * frac), so results match to the
    bit."""
    out = []
    for k, g in pdf.groupby(key, sort=True):
        ts = g[window_col].to_numpy("datetime64[s]").astype(np.int64)
        full = g.set_index(ts).reindex(
            np.arange(ts.min(), ts.max() + 1, interval_s))
        t = full.index.to_numpy(np.float64)
        v = full[value].to_numpy(np.float64)
        seen = ~np.isnan(v)
        idx = np.arange(len(v))
        prev = np.maximum.accumulate(np.where(seen, idx, 0))
        nxt = np.minimum.accumulate(np.where(seen, idx, len(v) - 1)[::-1])[::-1]
        with np.errstate(divide="ignore", invalid="ignore"):
            frac = (t - t[prev]) / (t[nxt] - t[prev])
            fill = v[prev] + (v[nxt] - v[prev]) * frac
        out.append(pd.DataFrame({
            key: k,
            window_col: pd.to_datetime(full.index, unit="s"),
            count: full[count].fillna(0).astype(np.int64).to_numpy(),
            value: np.where(seen, v, fill),
            "is_gap": ~seen,
        }))
    return pd.concat(out, ignore_index=True)


def rank_error(values, q: float, p: float) -> float:
    """Distance from p to the rank of estimate q among ``values``, in
    numpy's linear quantile convention (the i-th smallest of n has rank
    i/(n-1)); 0 when q is the exact p-quantile."""
    s = np.sort(np.asarray(values, float))
    n = len(s)
    if n < 2:
        return 0.0
    lo, hi = np.searchsorted(s, q, "left"), np.searchsorted(s, q, "right")
    if hi > lo:  # q is a sample: any rank of its copies
        r_lo, r_hi = lo / (n - 1), (hi - 1) / (n - 1)
    elif lo in (0, n):
        r_lo = r_hi = 0.0 if lo == 0 else 1.0
    else:  # between two samples: interpolated rank
        r_lo = r_hi = (lo - 1 + (q - s[lo - 1]) / (s[lo] - s[lo - 1])) / (n - 1)
    return max(0.0, r_lo - p, p - r_hi)


def segment(X: np.ndarray, window_size: int, step: int):
    """SubsequenceSegmentation.py:359-446: valid_len = ceil(n/step), pad
    window_size zero rows at tail, row i = X[i*step : i*step+w] flattened
    column-major (order='F')."""
    X = np.asarray(X, dtype=float)
    n, k = X.shape
    valid_len = int(np.ceil(n / step))
    Xp = np.vstack([X, np.zeros((window_size, k))])
    out = np.zeros((valid_len, window_size * k))
    for i in range(valid_len):
        out[i] = Xp[i * step : i * step + window_size, :].flatten(order="F")
    return out

"""Independent oracles and comparators for the perfbench workloads.

The oracles never call the program under test: DuckDB recomputes tier
partials and range answers from the generated parquet inputs, and NumPy /
pandas recompute gap-fill, z-score, rolling correlation, the rolling sigma
rule and the EWMA residual from the stored 1m tier.

Comparison rules: integer, boolean and label columns must match exactly;
float scores match with ``FLOAT_RTOL`` (JVM window frames and NumPy add in
different orders); tier means, stds and Gorilla round trips, whose formulas
are evaluated identically on exact integers, must match bitwise.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
from numpy.lib.stride_tricks import sliding_window_view

FLOAT_RTOL = 1e-9


# ------------------------------------------------------------ comparators
def epoch_s(col: pd.Series) -> np.ndarray:
    """Whole epoch seconds of a timestamp column, time zone or not."""
    if getattr(col.dt, "tz", None) is not None:
        col = col.dt.tz_convert("UTC").dt.tz_localize(None)
    return col.astype("datetime64[ns]").astype("int64").to_numpy() // 10**9


def _null(a: np.ndarray) -> np.ndarray:
    return pd.isna(a)


def compare_frames(
    got: pd.DataFrame,
    want: pd.DataFrame,
    keys: list[str],
    exact: list[str] = (),
    bitwise: list[str] = (),
    approx: list[str] = (),
    rtol: float = FLOAT_RTOL,
) -> list[str]:
    """Mismatch descriptions (empty when equal) between two frames joined on
    ``keys``. Nulls must sit in the same rows; ``bitwise`` float columns are
    compared as raw 64-bit patterns, ``approx`` ones with ``rtol``."""
    if len(got) != len(want):
        return [f"row count {len(got)} != {len(want)}"]
    g = got.sort_values(keys, kind="mergesort").reset_index(drop=True)
    w = want.sort_values(keys, kind="mergesort").reset_index(drop=True)
    errs = []
    for k in keys:
        if not np.array_equal(g[k].to_numpy(), w[k].to_numpy()):
            errs.append(f"key column {k} differs")
    if errs:
        return errs
    for c in [*exact, *bitwise, *approx]:
        a, b = g[c].to_numpy(), w[c].to_numpy()
        na, nb = _null(a), _null(b)
        if not np.array_equal(na, nb):
            errs.append(f"{c}: nulls in {int((na != nb).sum())} rows differ")
            continue
        a, b = a[~na], b[~nb]
        if c in exact:
            bad = a != b
        elif c in bitwise:
            bad = a.astype(np.float64).view(np.int64) != b.astype(np.float64).view(np.int64)
        else:
            bad = ~np.isclose(a.astype(np.float64), b.astype(np.float64), rtol=rtol, atol=0.0)
        if bad.any():
            i = int(np.flatnonzero(bad)[0])
            errs.append(f"{c}: {int(bad.sum())} rows differ, first {a[i]!r} != {b[i]!r}")
    return errs


def labels_match(score: np.ndarray, got: np.ndarray, want: np.ndarray, k: float) -> bool:
    """Sigma-rule labels agree except where the score sits within float
    tolerance of the threshold, where either side may round across it."""
    border = np.isclose(np.nan_to_num(score, nan=np.inf), k, rtol=FLOAT_RTOL * 10, atol=0.0)
    return bool(np.array_equal(got[~border], want[~border]))


# ------------------------------------------------------------ DuckDB
_TIER_S = {"1m": 60, "1h": 3600, "1d": 86400}


def _files(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}/**/*.parquet'" for p in paths) + "]"


def duck_partials(paths: list[str], tier: str, ts_col: str = "ingest_ts", val_col: str = "n_tok") -> pd.DataFrame:
    """Exact (source, bucket_s, cnt, s1, s2, vmin, vmax) of raw rows."""
    step = _TIER_S[tier]
    sql = f"""
        SELECT source,
               CAST(floor(epoch({ts_col}) / {step}) * {step} AS BIGINT) AS bucket_s,
               CAST(count({val_col}) AS BIGINT) AS cnt,
               CAST(sum(CAST({val_col} AS BIGINT)) AS BIGINT) AS s1,
               CAST(sum(CAST({val_col} AS BIGINT) * {val_col}) AS BIGINT) AS s2,
               CAST(min({val_col}) AS BIGINT) AS vmin,
               CAST(max({val_col}) AS BIGINT) AS vmax
        FROM read_parquet({_files(paths)}, hive_partitioning = false)
        GROUP BY ALL
    """
    with duckdb.connect() as con:
        return con.sql(sql).df()


def duck_range(paths: list[str], t0_s: int, t1_s: int, ts_col: str = "ingest_ts", val_col: str = "n_tok") -> pd.DataFrame:
    """Per-source aggregate of the raw rows with ``t0_s <= ts < t1_s``."""
    sql = f"""
        SELECT source,
               CAST(count({val_col}) AS BIGINT) AS cnt,
               CAST(sum(CAST({val_col} AS BIGINT)) AS BIGINT) AS sum_v,
               CAST(sum(CAST({val_col} AS BIGINT) * {val_col}) AS BIGINT) AS s2,
               CAST(min({val_col}) AS BIGINT) AS vmin,
               CAST(max({val_col}) AS BIGINT) AS vmax
        FROM read_parquet({_files(paths)}, hive_partitioning = false)
        WHERE epoch({ts_col}) >= {t0_s} AND epoch({ts_col}) < {t1_s}
        GROUP BY ALL
    """
    with duckdb.connect() as con:
        out = con.sql(sql).df()
    return with_moments(out, "sum_v")


def with_moments(df: pd.DataFrame, s1: str = "s1") -> pd.DataFrame:
    """Add mean and population std by the engine's finalize formula."""
    mean = df[s1].to_numpy(np.float64) / df["cnt"].to_numpy(np.float64)
    var = df["s2"].to_numpy(np.float64) / df["cnt"].to_numpy(np.float64) - mean * mean
    return df.assign(mean=mean, std=np.sqrt(np.maximum(var, 0.0)))


# ------------------------------------------------------------ long series
def spine(tier: pd.DataFrame, step: int = 60) -> pd.DataFrame:
    """Dense per-source spine of ``tier`` (source, ts_s, cnt, sum_v, mean)
    with ``obs`` marking observed buckets."""
    parts = []
    for src, g in tier.groupby("source", sort=True):
        ts = np.arange(g["ts_s"].min(), g["ts_s"].max() + step, step, dtype=np.int64)
        d = pd.DataFrame({"source": src, "ts_s": ts}).merge(g, on=["source", "ts_s"], how="left")
        d["obs"] = d["mean"].notna()
        parts.append(d)
    return pd.concat(parts, ignore_index=True)


def locf(sp: pd.DataFrame) -> pd.DataFrame:
    out = sp.copy()
    out["mean"] = out.groupby("source")["mean"].ffill()
    out["cnt"] = out["cnt"].fillna(0).astype(np.int64)
    return out


def linear(sp: pd.DataFrame) -> pd.DataFrame:
    """Inside gaps: v_prev + (v_next - v_prev) * (t - t_prev) / (t_next - t_prev)."""
    out = sp.copy()
    t_obs = out["ts_s"].astype(np.float64).where(out["obs"])
    g = out.assign(_t=t_obs).groupby("source")
    t_prev, t_next = g["_t"].ffill(), g["_t"].bfill()
    v_prev, v_next = g["mean"].ffill(), g["mean"].bfill()
    frac = (out["ts_s"].astype(np.float64) - t_prev) / (t_next - t_prev)
    out["mean"] = out["mean"].where(out["obs"], v_prev + (v_next - v_prev) * frac)
    out["cnt"] = out["cnt"].fillna(0).astype(np.int64)
    return out


def _windows(x: np.ndarray, w: int) -> np.ndarray:
    """Row i of the result is the trailing window ending at i (NaN head)."""
    pad = np.concatenate([np.full(w - 1, np.nan), x.astype(np.float64)])
    return sliding_window_view(pad, w)


def zscore(filled: pd.DataFrame, w: int, k: float) -> pd.DataFrame:
    parts = []
    for _, g in filled.groupby("source", sort=True):
        win = _windows(g["mean"].to_numpy(), w)
        full = ~np.isnan(win).any(axis=1)
        mu = np.where(full, win.mean(axis=1), np.nan)
        sd = np.where(full, win.std(axis=1, ddof=1), np.nan)
        score = np.where(sd > 0, np.abs(g["mean"].to_numpy() - mu) / np.where(sd > 0, sd, 1.0), np.nan)
        parts.append(g.assign(roll_mean=mu, roll_std=sd, score=score, label=np.where(score > k, 1, -1)))
    return pd.concat(parts, ignore_index=True)


def rolling_corr(filled: pd.DataFrame, w: int) -> pd.DataFrame:
    """Trailing-window Pearson correlation of cnt and sum_v on exact int64
    window sums (prefix-sum differences); nulls in sum_v add nothing."""
    parts = []
    for _, g in filled.groupby("source", sort=True):
        x = g["cnt"].to_numpy(np.int64)
        y = g["sum_v"].fillna(0).to_numpy(np.int64)

        def wsum(v):
            c = np.concatenate([[0], np.cumsum(v)])
            return c[w:] - c[:-w]

        n = len(x)
        corr = np.full(n, np.nan)
        if n >= w:
            sx, sy, sxy, sxx, syy = (wsum(v) for v in (x, y, x * y, x * x, y * y))
            num = w * sxy - sx * sy
            d1 = w * sxx - sx * sx
            d2 = w * syy - sy * sy
            ok = (d1 > 0) & (d2 > 0)
            val = num.astype(np.float64) / (np.sqrt(d1.astype(np.float64)) * np.sqrt(d2.astype(np.float64)))
            corr[w - 1 :] = np.where(ok, val, np.nan)
        parts.append(g.assign(corr=corr))
    return pd.concat(parts, ignore_index=True)


def sigma_rolling(filled: pd.DataFrame, w: int, k: float) -> pd.DataFrame:
    """Centred zero-padded moving average, residual, trailing sample sigma of
    the residual backfilled over the head rows, and the k-sigma label."""
    left, right = w // 2, (w - 1) // 2
    parts = []
    for _, g in filled.groupby("source", sort=True):
        x = g["mean"].to_numpy(np.float64)
        n = len(x)
        c = np.concatenate([[0.0], np.cumsum(x)])
        idx = np.arange(n)
        ma = (c[np.minimum(n, idx + right + 1)] - c[np.maximum(0, idx - left)]) / float(w)
        resid = x - ma
        win = _windows(resid, w)
        sigma = np.where(~np.isnan(win).any(axis=1), win.std(axis=1, ddof=1), np.nan)
        sigma = pd.Series(sigma).bfill().to_numpy()
        label = np.where(np.abs(resid) > k * sigma, 1, -1)
        parts.append(g.assign(ma=ma, resid=resid, sigma=sigma, label=label, _sscore=np.abs(resid) / sigma))
    return pd.concat(parts, ignore_index=True)


def ewma(tier: pd.DataFrame, alpha: float) -> pd.DataFrame:
    parts = []
    for _, g in tier.groupby("source", sort=True):
        g = g.sort_values("ts_s")
        level = g["mean"].ewm(alpha=alpha, adjust=False).mean()
        resid = (g["mean"] - level.shift(1)).fillna(0.0)
        parts.append(g.assign(ewma_level=level, resid=resid, score=resid.abs()))
    return pd.concat(parts, ignore_index=True)
